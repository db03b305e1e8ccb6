"""The paper pipelines' shared stemmed corpus: ``tokenize_corpus(stem=True)``
semantics, EP-2 served from EP-1's cache, the one-draw stratified split,
EP-3's word lists sliced from one ranked count, and distinct-term
stemming that stems each distinct term once."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.functions.stemmer import porter2_stem
from week5_datingnlp_big_data_spark.operators import corpus, dfm, freq, ml
from week5_datingnlp_big_data_spark.plans import pipelines

from tests.fixtures import make_profiles


def _plan_nodes(plan):
    """Every node of an executed physical plan, through adaptive query
    stages and reused exchanges, but NOT into a cached relation's plan
    (an InMemoryTableScan is a leaf: its plan ran when the cache filled)."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if "QueryStage" in name:
            todo.append(node.plan())
            continue
        out.append(node)
        if name == "InMemoryTableScan":
            continue
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return out


def _executed_nodes(df):
    df.collect()
    return _plan_nodes(df._jdf.queryExecution().executedPlan())


def _eval_python_rows(nodes) -> int:
    rows = 0
    for node in nodes:
        if "EvalPython" in node.nodeName():
            rows += node.metrics().get("pythonNumRowsReceived").get().value()
    return rows


def test_tokenize_corpus_stem_equals_per_token_porter2(spark):
    docs = spark.createDataFrame(
        [
            (1, "Dancing girls enjoy dancing; the guys were dancing too"),
            (2, "the and of is it"),          # stopword-only → []
            (3, "oing hiking oing"),          # porter2("oing") = "o" → dropped
            (4, None),                        # NULL text stays NULL
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["tokens"]
        for r in corpus.tokenize_corpus(docs, stem=True).collect()
    }
    raw = {
        r["doc_id"]: r["tokens"]
        for r in corpus.tokenize_corpus(docs, stem=False, min_token_len=1).collect()
    }
    want = {
        d: None if toks is None
        else [s for s in map(porter2_stem, toks) if len(s) >= 2]
        for d, toks in raw.items()
    }
    assert got == want
    assert got[1] == ["danc", "girl", "enjoy", "danc", "guy", "danc"]
    assert got[2] == [] and got[5] == []
    assert got[3] == ["hike"]
    assert got[4] is None


def test_tokenize_corpus_keeps_input_columns_in_order(spark):
    docs = spark.createDataFrame(
        [("m", 7, "guys dancing")], "sex string, doc_id long, text string"
    )
    out = corpus.tokenize_corpus(docs)
    assert out.columns == ["sex", "doc_id", "text", "tokens"]
    assert out.first()["tokens"] == ["guy", "danc"]


def test_stratified_split_is_one_sampleby_draw(spark):
    df = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 5 < 2, "f").otherwise("m").alias("label"),
    ).repartition(4).cache()
    train, test = ml.stratified_split(df, "label", 0.7, seed=11)
    tr = {r["doc_id"] for r in train.collect()}
    te = {r["doc_id"] for r in test.collect()}
    assert not tr & te
    assert tr | te == {r["doc_id"] for r in df.collect()}
    sampled = df.stat.sampleBy("label", {"f": 0.7, "m": 0.7}, 11)
    assert tr == {r["doc_id"] for r in sampled.collect()}
    assert train.columns == test.columns == df.columns


def test_ep1_evaluate_matches_lazy_metrics(spark):
    ep1 = pipelines.ep1_classification(make_profiles(spark, n_rows=200))
    lazy = ml.confusion_matrix(ep1.predictions).collect()
    assert ep1.confusion.collect() == lazy
    assert ep1.accuracy == ml.accuracy(ep1.predictions)


def test_ep2_reads_ep1_cache_without_tokenizer_or_python(spark):
    profiles = make_profiles(spark, n_rows=150).cache()
    pipelines.ep1_classification(profiles)
    corpus_again = corpus.tokenize_corpus(corpus.profiles_to_docs(profiles))
    # plan equality: the cache manager finds EP-1's persisted corpus
    assert corpus_again.storageLevel.useMemory
    cached = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    nodes = _executed_nodes(pipelines.ep2_tfidf(corpus_again))
    # no cache of EP-2's own was filled: its DFM is EP-1's too, so the
    # tokenizer and the stemmer ran nowhere, not even inside a cache fill
    assert not set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - cached
    names = [n.nodeName() for n in nodes]
    assert "InMemoryTableScan" in names, names
    assert not [n for n in names if "EvalPython" in n], names
    assert not [n.verboseStringWithOperatorId() for n in nodes
                if "regexp" in n.verboseStringWithOperatorId()]
    spark.catalog.clearCache()


def test_group_top_words_slices_match_per_group_top_k_and_setdiff(spark):
    docs = corpus.profiles_to_docs(make_profiles(spark, n_rows=200))
    ranks = freq.group_top_words(docs, "sex", 40)

    def pairs(df):
        return [(r["word"], r["cnt"]) for r in df.collect()]

    top = {g: pairs(freq.top_k_words(docs.filter(F.col("sex") == g), 40)) for g in "mf"}
    for g in "mf":
        assert pairs(freq.group_top_k(ranks, "sex", g, 25)) == top[g][:25]
    f_words = {w for w, _ in top["f"]}
    assert pairs(freq.distinctive_words(ranks, "sex", "m", "f", 40)) == [
        p for p in top["m"] if p[0] not in f_words
    ]


@pytest.fixture(scope="module")
def doc_terms(spark):
    rows = [(d, ["dancing", "danced", "xylophones", "oing", "guys"][: 2 + d % 4])
            for d in range(40)]
    toks = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    return dfm.doc_term_counts(toks)


def test_stem_counts_stems_each_distinct_term_once(doc_terms):
    stemmed = dfm.stem_counts(doc_terms).filter(F.length("term") >= 2)
    n_terms = doc_terms.select("term").distinct().count()
    assert _eval_python_rows(_executed_nodes(stemmed)) == n_terms
    got = {(r["doc_id"], r["term"]): r["count"] for r in stemmed.collect()}
    assert ("o" not in {t for _, t in got}) and got[(5, "danc")] == 2


def test_stemmed_wordcount_query_stems_each_distinct_term_once(spark, sf_dir):
    from week5_datingnlp_big_data_spark import registry

    q = registry.QUERIES["stemmed_wordcount_top50"](spark, sf_dir)
    counts = dfm.doc_term_counts(registry._docs_tokenized(spark, sf_dir))
    n_terms = counts.select("term").distinct().count()
    assert _eval_python_rows(_executed_nodes(q)) == n_terms
