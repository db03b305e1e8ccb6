"""Composed end-to-end pipelines mirroring the reference's three entry
points (SURVEY.md section 3), as one lazy DataFrame DAG each.

EP-1 supervised classification (Week5_datingNLP.R:45–188)
EP-2 TF-IDF weighting          (R:234–247)
EP-3 frequency analysis + unsupervised (R:258–326)

The reference materializes eagerly at every step (33 GB peak); here each
pipeline is declared lazily and only the terminal artifacts materialize.
The corpus is tokenized and stemmed once and shared — the analog of the
reference keeping `all.tokens` alive across its three sections: EP-1
persists ``corpus.tokenize_corpus(profiles_to_docs(p))`` and its trimmed
DFM, and EP-2 on the same profiles builds equal plans, which Spark's
cache manager answers from EP-1's cache. EP-3 derives its four word
lists from one ranked word count.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.operators import corpus, dfm, freq, ml, tfidf


@dataclass
class EP1Result:
    tokenized: DataFrame
    counts: DataFrame            # trimmed long-form DFM
    train: DataFrame
    test: DataFrame
    model: object
    predictions: DataFrame
    confusion: DataFrame
    accuracy: float
    vocabulary: list[str] = field(default_factory=list)


def ep1_classification(
    profiles: DataFrame,
    *,
    min_docfreq: int = 2,
    min_termfreq: int = 3,
    train_fraction: float = 0.7,
    max_depth: int = 5,
    seed: int = 32984,
    stage_timings: dict[str, float] | None = None,
) -> EP1Result:
    """EP-1: corpus prep → stemmed tokens → trimmed DFM → vectorize →
    stratified split → decision tree → confusion matrix. Thresholds
    default lower than the reference's 25/35 (R:105) because test
    fixtures are ~500 docs vs 60k; pass 25/35 at full scale.

    The stemmed corpus (``corpus.tokenize_corpus``, which needs a unique
    ``doc_id``) and its trimmed DFM are persisted and returned as
    ``tokenized`` / ``counts``: a later
    ``ep2_tfidf(tokenize_corpus(profiles_to_docs(profiles)))`` builds
    the same plans, so Spark's cache manager serves both and EP-2 runs
    no tokenizer and no Python.

    Pass ``stage_timings={}`` to get a featurize / fit / evaluate
    wall-clock breakdown written into the dict (used by
    scripts/scale_stress.py). The breakdown forces the split's cache at
    the stage boundary — an action the tree fit would trigger anyway, so
    the total is unchanged; with the default ``None`` no extra action
    runs."""
    import time as _time

    _t0 = _time.perf_counter()
    docs = corpus.profiles_to_docs(profiles)
    tokenized = corpus.tokenize_corpus(docs).persist()
    counts = _trimmed_counts(tokenized, min_docfreq, min_termfreq).persist()
    # Vector view against the trimmed vocabulary. The vocabulary is the
    # DFM trim's term set, ordered by corpus frequency desc (matching what
    # a fitted CountVectorizer would produce); terms outside it contribute
    # nothing to the transform, so the stemmed token arrays feed the model
    # directly — no explode → semi-join → re-collect rebuild, and no fit
    # scan. Post-trim vocabulary is bounded (Heaps' law + df/tf floors),
    # so collecting it into the model's broadcast dictionary stays small
    # even at 100 TB corpus scale — the same driver-side footprint a
    # fitted CountVectorizerModel carries. The ranking happens on the
    # driver over the collected rows: no range-partitioned sort job.
    tf_rows = counts.groupBy("term").agg(F.sum("count").alias("_tf")).collect()
    vocab = [r["term"] for r in sorted(tf_rows, key=lambda r: (-r["_tf"], r["term"]))]
    vectorized = ml.vectorize_with_vocabulary(tokenized, vocab)
    # Only the modeling columns reach the split's cache; the text stays
    # in the corpus cache. Fit, predict and evaluate all read that one
    # persisted draw.
    train, test = ml.stratified_split(
        vectorized.select("doc_id", F.col("sex").alias("label"), "features"),
        "label",
        train_fraction,
        seed,
    )
    if stage_timings is not None:
        # materialize the featurize chain (tokenize → stem-map → vectorize
        # → split) so the fit stage below times ONLY the tree
        train.count(), test.count()
        stage_timings["featurize"] = round(_time.perf_counter() - _t0, 1)
        _t0 = _time.perf_counter()
    model = ml.train_decision_tree(train, max_depth=max_depth, seed=seed)
    if stage_timings is not None:
        stage_timings["tree_fit"] = round(_time.perf_counter() - _t0, 1)
        _t0 = _time.perf_counter()
    pred = ml.predict(model, test)
    confusion, acc = ml.evaluate(pred)
    if stage_timings is not None:
        stage_timings["predict_eval"] = round(_time.perf_counter() - _t0, 1)
    return EP1Result(
        tokenized=tokenized,
        counts=counts,
        train=train,
        test=test,
        model=model,
        predictions=pred,
        confusion=confusion,
        accuracy=acc,
        vocabulary=vocab,
    )


def _trimmed_counts(tokenized: DataFrame, min_docfreq: int, min_termfreq: int) -> DataFrame:
    """The trimmed long-form DFM both EP-1 and EP-2 build: one helper, so
    their plans stay equal and EP-2 reads EP-1's cache."""
    return dfm.trim_vocabulary(dfm.doc_term_counts(tokenized), min_docfreq, min_termfreq)


def ep2_tfidf(tokenized: DataFrame, *, min_docfreq: int = 2, min_termfreq: int = 3) -> DataFrame:
    """EP-2: trimmed long-form DFM → reference-semantics TF-IDF
    (tf=count/doc_total, idf=log10(N/df)). After ``ep1_classification``
    on the same profiles, pass ``tokenize_corpus(profiles_to_docs(p))``
    with EP-1's trim floors: the corpus and the DFM then come from EP-1's
    cache."""
    return tfidf.tf_idf(_trimmed_counts(tokenized, min_docfreq, min_termfreq))


@dataclass
class EP3Result:
    male_top: DataFrame
    female_top: DataFrame
    distinctive_male: DataFrame
    distinctive_female: DataFrame
    kmeans_costs: dict[int, float]


def ep3_word_analysis(
    profiles: DataFrame,
    vectorized: DataFrame | None = None,
    *,
    top_k: int = 25,
    distinct_k: int = 500,
    kmeans_ks: tuple[int, ...] = (),
    seed: int = 42,
) -> EP3Result:
    """EP-3: per-sex frequency rankings (raw-split semantics, R:258–270),
    distinctive-word setdiffs (R:278–280), optional k-means sweep
    (R:301–313) when a vectorized frame is supplied."""
    docs = corpus.profiles_to_docs(profiles).filter(F.col("sex").isin("m", "f"))
    costs: dict[int, float] = {}
    if vectorized is not None and kmeans_ks:
        vectorized = vectorized.cache()
        for k in kmeans_ks:
            _, costs[k] = ml.kmeans_restarts(vectorized, k, seed=seed)
    # One word count for all four lists: each sex's top words, ranked
    # once and persisted (≤ 2·max(top_k, distinct_k) rows).
    ranks = freq.group_top_words(docs, "sex", max(top_k, distinct_k)).persist()
    return EP3Result(
        male_top=freq.group_top_k(ranks, "sex", "m", top_k),
        female_top=freq.group_top_k(ranks, "sex", "f", top_k),
        distinctive_male=freq.distinctive_words(ranks, "sex", "m", "f", distinct_k),
        distinctive_female=freq.distinctive_words(ranks, "sex", "f", "m", distinct_k),
        kmeans_costs=costs,
    )
