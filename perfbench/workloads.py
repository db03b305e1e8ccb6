"""The benchmark's workloads and their correctness checks.

A workload is a closed loop with one client: ``next_op`` names the next
operation, ``run`` performs it (timed), ``check`` verifies its output
(untimed), and ``at_boundary`` says whether the loop may stop there.
``reset`` runs untimed before each operation and drops cached relations,
so no operation reuses another's ``persist()`` entries.

* ``PaperJob`` — the reference script as one batch job: EP-1
  classification, EP-2 TF-IDF written as parquet, EP-3 word analysis.
* ``QueryMix`` — passes over a fixed list of registry queries on seeded
  tables, each result compared against the query's DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd

import gen
from spans import Tracer
from week5_datingnlp_big_data_spark import registry
from week5_datingnlp_big_data_spark.operators import corpus
from week5_datingnlp_big_data_spark.plans import pipelines
from week5_datingnlp_big_data_spark.sources import sinks
from week5_datingnlp_big_data_spark.sources.catalog import TABLES

# EP-3 ranking depth: the planted markers rank ~40th in their own class.
TOP_WORDS = 100


@dataclass
class Checked:
    ok: bool
    accuracy: float  # share of this operation's checked outputs that are right
    note: str = ""


class PaperJob:
    name = "paper_job"

    def __init__(self, spark, tracer: Tracer, profiles: str, n_docs: int, out_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.profiles = profiles
        self.n_docs = n_docs
        self.out_dir = out_dir
        self.min_df, self.min_tf = gen.trim_floors(n_docs)

    def next_op(self) -> str:
        return self.name

    def at_boundary(self) -> bool:
        return True

    def reset(self) -> None:
        self.spark.catalog.clearCache()

    def run(self, _op: str) -> dict:
        span = self.tracer.span
        profiles = sinks.read_parquet(self.spark, self.profiles)
        ep1 = pipelines.ep1_classification(
            profiles, min_docfreq=self.min_df, min_termfreq=self.min_tf
        )
        with span("operators.ml.collect", "operators.ml"):
            confusion = ep1.confusion.collect()
        docs = corpus.profiles_to_docs(profiles)
        tokenized = corpus.tokenize_corpus(docs, stem=True)
        weights = pipelines.ep2_tfidf(
            tokenized, min_docfreq=self.min_df, min_termfreq=self.min_tf
        )
        sinks.write_parquet(weights, self.out_dir)
        ep3 = pipelines.ep3_word_analysis(profiles, top_k=TOP_WORDS, distinct_k=TOP_WORDS)
        with span("operators.freq.collect", "operators.freq"):
            words = {
                k: [r["word"] for r in getattr(ep3, k).collect()]
                for k in ("male_top", "female_top", "distinctive_male", "distinctive_female")
            }
        return {"ep1": ep1, "confusion": confusion, "words": words}

    def check(self, out: dict) -> Checked:
        ep1 = out["ep1"]
        n_test = sum(r["n"] for r in out["confusion"])
        n_train = ep1.train.count()
        problems = []
        if n_test != ep1.test.count() or n_train + n_test != self.n_docs:
            problems.append(f"split {n_train}+{n_test} != {self.n_docs}")
        # Between the majority-class prior and the Bayes ceiling (plus
        # three standard errors of a test set this size).
        ceiling = gen.bayes_ceiling()
        upper = ceiling + 3 * math.sqrt(ceiling * (1 - ceiling) / max(n_test, 1))
        if not gen.P_MALE + 0.02 < ep1.accuracy <= upper:
            problems.append(f"accuracy {ep1.accuracy:.4f} outside ({gen.P_MALE + 0.02}, {upper:.4f}]")
        problems += self._check_tfidf()
        w = out["words"]
        for own, cross, top, distinctive in (
            (gen.MALE_MARKERS, gen.FEMALE_MARKERS, "male_top", "distinctive_male"),
            (gen.FEMALE_MARKERS, gen.MALE_MARKERS, "female_top", "distinctive_female"),
        ):
            if missing := set(own) - set(w[top]):
                problems.append(f"{top} misses markers {sorted(missing)}")
            if wrong := set(cross) & set(w[distinctive]):
                problems.append(f"{distinctive} holds other-class markers {sorted(wrong)}")
        return Checked(not problems, ep1.accuracy, "; ".join(problems))

    def _check_tfidf(self) -> list[str]:
        """Recompute tf = count/Σcount and idf = log10(N/df) from the
        written long form with DuckDB."""
        con = duckdb.connect()
        try:
            row = con.execute(
                f"""
                WITH w AS (SELECT * FROM read_parquet('{self.out_dir}/*.parquet')),
                d AS (SELECT doc_id, sum(count) AS tot FROM w GROUP BY doc_id),
                t AS (SELECT term, count(*) AS df, sum(count) AS tf FROM w GROUP BY term),
                n AS (SELECT count(DISTINCT doc_id) AS n FROM w)
                SELECT count(*),
                       max(abs(w.tf - w.count / d.tot)),
                       max(abs(w.idf - log10(n.n / t.df))),
                       max(abs(w.tfidf - w.tf * w.idf)),
                       min(t.df), min(t.tf)
                FROM w JOIN d USING (doc_id) JOIN t USING (term), n
                """
            ).fetchone()
        finally:
            con.close()
        rows, tf_err, idf_err, tfidf_err, min_df, min_tf = row
        problems = []
        if not rows:
            problems.append("EP-2 wrote no rows")
        elif max(tf_err, idf_err, tfidf_err) > 1e-9:
            problems.append(f"EP-2 tf/idf/tfidf error {tf_err:.2e}/{idf_err:.2e}/{tfidf_err:.2e}")
        elif min_df < self.min_df or min_tf < self.min_tf:
            problems.append(f"EP-2 kept a term below the trim floors ({min_df}, {min_tf})")
        return problems


# One query per registry family; construction-heavy queries
# (host_link_pagerank, nb_margin_auc) sit beside execution-heavy ones.
# The ir and web families are left out to keep a run within its time.
QUERIES = {
    "q3_shipping_priority": "relational",
    "embedding_cosine_topk": "similarity",
    "exact_dedup": "dedup",
    "host_link_pagerank": "graph",
    "nb_margin_auc": "evalx",
    "vocab_typo_pairs": "fuzzy",
}
FAMILIES = tuple(dict.fromkeys(QUERIES.values()))


def _norm(v):
    """One comparable form per value, as the engine's oracle tests use:
    NULL/NaN/NaT fold to one marker, floats round to 6 places."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    if isinstance(v, (float, np.floating)):
        return round(float(v), 6)
    return str(v)


def result_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = sorted(repr(tuple(_norm(v) for v in r)) for r in df[cols].itertuples(index=False))
    return hashlib.sha256("\n".join([repr(cols), *rows]).encode()).hexdigest()


class QueryMix:
    name = "query_mix"

    def __init__(self, spark, tracer: Tracer, tables: str):
        self.spark = spark
        self.tracer = tracer
        self.tables = tables
        self.pending: list[str] = []
        self.oracle = registry.all_oracles()
        self.expected: dict[str, str] = {}

    def next_op(self) -> str:
        # A fixed order: a query's first-run cost depends on which queries
        # ran before it (shared code is compiled once), so a shuffled order
        # would move per-query latency from run to run.
        if not self.pending:
            self.pending = list(QUERIES)
        return self.pending.pop(0)

    def at_boundary(self) -> bool:
        """True between passes: a run times whole passes, so every run
        executes each query the same number of times."""
        return not self.pending

    def reset(self) -> None:
        self.spark.catalog.clearCache()

    def run(self, name: str) -> tuple[str, pd.DataFrame]:
        with self.tracer.span("registry.construct", "registry"):
            df = registry.QUERIES[name](self.spark, self.tables)
        with self.tracer.span("registry.exec", "registry"):
            return name, df.toPandas()

    def _expected(self, name: str) -> str:
        if name not in self.expected:
            con = duckdb.connect()
            try:
                for t in TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tables}/{t}.parquet')"
                    )
                self.expected[name] = result_hash(con.execute(self.oracle[name]).df())
            finally:
                con.close()
        return self.expected[name]

    def check(self, out: tuple[str, pd.DataFrame]) -> Checked:
        name, pdf = out
        ok = result_hash(pdf) == self._expected(name)
        return Checked(ok, 1.0 if ok else 0.0, "" if ok else f"{name} differs from its oracle")
