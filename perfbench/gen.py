"""Seeded input generators for the benchmark.

Everything here is plain NumPy + PyArrow: inputs are written before the
Spark session exists, so generation never shows in a metric. The same
``seed`` always produces byte-identical parquet files.

* ``write_profiles`` — a reference-shaped OkCupid profiles corpus (the
  schema of ``sources.schemas.PROFILES_SCHEMA``) for the EP-1/EP-2/EP-3
  workloads. Gender-marker words overlap between the classes, so EP-1's
  accuracy has room between the 0.6 class prior and the Bayes ceiling
  (``bayes_ceiling``). A wide mid-frequency band survives the DFM trim and
  a rare band is trimmed away.
* ``write_tables`` — the TPC-H-ish star schema plus events / documents /
  embeddings that the registry queries read, shaped like the 0.01-scale
  tables the registry's DuckDB oracles were written against.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ESSAYS = 10
P_MALE = 0.6
# A marker word is present in a doc of its own class with P_OWN, in a doc
# of the other class with P_CROSS, independently per word.
P_OWN, P_CROSS = 0.5, 0.15
MALE_MARKERS = ("guy", "guys", "sports", "engineering", "beard", "whiskey")
FEMALE_MARKERS = ("girl", "girls", "dancing", "yoga", "sparkle", "brunch")
COMMON = (
    "think", "kind", "intellectual", "either", "music", "coffee", "travel",
    "books", "hiking", "movies", "food", "friends", "work", "life", "ocean",
    "sunset", "guitar", "kitchen", "garden", "city",
)
# Tokenizer edge cases: HTML the cleaner strips, stop words, hyphen and
# apostrophe words, numbers, punctuation-only and single-letter tokens.
NOISE = (
    "<br />", "&amp;", "42", "mid-century", "don't", "x", "---", "the",
    "love", "i'm", '<a href="http://example.org/">', 'class="big"', "</b>",
)
# Word-band shares of non-marker tokens: common, mid, rare, noise.
BANDS = (0.5, 0.3, 0.1, 0.1)
MID_TERMS = 4_000      # survives the trim
RARE_TERMS = 200_000   # df ~ 1, trimmed away
REFERENCE_DOCS = 59_946
REFERENCE_DOCFREQ, REFERENCE_TERMFREQ = 25, 35


def trim_floors(n_docs: int) -> tuple[int, int]:
    """The reference's dfm_trim floors (25 docs / 35 occurrences at
    59,946 docs, R:105) scaled to ``n_docs``, never below 2 / 3."""
    scale = n_docs / REFERENCE_DOCS
    return (
        max(2, round(REFERENCE_DOCFREQ * scale)),
        max(3, round(REFERENCE_TERMFREQ * scale)),
    )


def bayes_ceiling() -> float:
    """Accuracy of the Bayes-optimal classifier on the marker words (the
    only class signal in the corpus): each marker is an independent
    Bernoulli, so the sufficient statistic is (own-marker count,
    cross-marker count) per class."""
    n = len(MALE_MARKERS)

    def binom(k: int, p: float) -> float:
        return math.comb(n, k) * p**k * (1 - p) ** (n - k)

    acc = 0.0
    for km in range(n + 1):
        for kf in range(n + 1):
            pm = P_MALE * binom(km, P_OWN) * binom(kf, P_CROSS)
            pf = (1 - P_MALE) * binom(km, P_CROSS) * binom(kf, P_OWN)
            acc += max(pm, pf)
    return acc


def _band_words(rng: np.random.Generator, n: int) -> np.ndarray:
    band = rng.choice(4, size=n, p=BANDS)
    out = np.empty(n, dtype=object)
    k = band == 0
    out[k] = np.asarray(COMMON, dtype=object)[rng.integers(0, len(COMMON), k.sum())]
    k = band == 1
    # u**2 skews the mid band: a Zipf-like head plus a long flat tail
    mid = (rng.random(k.sum()) ** 2 * MID_TERMS).astype(np.int64)
    out[k] = np.char.add("mid", mid.astype(str)).astype(object)
    k = band == 2
    out[k] = np.char.add("rare", rng.integers(0, RARE_TERMS, k.sum()).astype(str)).astype(object)
    k = band == 3
    out[k] = np.asarray(NOISE, dtype=object)[rng.integers(0, len(NOISE), k.sum())]
    return out


def write_profiles(path: str, n_docs: int, words_per_essay: tuple[int, int], seed: int) -> dict:
    """Write the profiles corpus to ``path``; return its size as
    ``{"docs", "tokens", "bytes"}`` (tokens = space-separated words)."""
    rng = np.random.default_rng([seed, 1])
    male = rng.random(n_docs) < P_MALE
    lens = rng.integers(words_per_essay[0], words_per_essay[1] + 1, (n_docs, ESSAYS))
    lens[rng.random((n_docs, ESSAYS)) < 0.1] = 0  # empty essays
    words = _band_words(rng, int(lens.sum()))
    ends = np.cumsum(lens.ravel())
    starts = ends - lens.ravel()

    markers = MALE_MARKERS + FEMALE_MARKERS
    nm = len(MALE_MARKERS)
    p = np.where(male[:, None], [P_OWN] * nm + [P_CROSS] * nm, [P_CROSS] * nm + [P_OWN] * nm)
    present = rng.random((n_docs, len(markers))) < p
    slots = rng.integers(0, ESSAYS, (n_docs, len(markers)))

    essays = [[""] * n_docs for _ in range(ESSAYS)]
    tokens = int(lens.sum()) + int(present.sum())
    for d in range(n_docs):
        row = [words[starts[d * ESSAYS + e]:ends[d * ESSAYS + e]].tolist() for e in range(ESSAYS)]
        for j in np.flatnonzero(present[d]):
            row[slots[d, j]].append(markers[j])
        for e in range(ESSAYS):
            essays[e][d] = " ".join(row[e])

    def const(v: str) -> pa.Array:
        return pa.array([v] * n_docs, pa.string())

    cols = {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "age": pa.array(rng.integers(18, 71, n_docs).astype(np.int32)),
        "status": const("single"),
        "sex": pa.array(np.where(male, "m", "f")),
        "orientation": const("straight"),
        "body_type": const("fit"),
        "diet": const("anything"),
        "drinks": const("socially"),
        "drugs": const(""),
        "education": const("college"),
        "ethnicity": const("white"),
        "height": pa.array(66.0 + rng.random(n_docs) * 12),
        "income": pa.array(np.full(n_docs, -1, np.int32)),
        "job": const("engineer"),
        "last_online": const("2012-06-28-20-30"),
        "location": const("san francisco, california"),
        "offspring": const(""),
        "pets": const("likes dogs"),
        "religion": const(""),
        "sign": const("gemini"),
        "smokes": const("no"),
        "speaks": const("english"),
        **{f"essay{e}": pa.array(essays[e], pa.string()) for e in range(ESSAYS)},
    }
    _write(pa.table(cols), path)
    return {"docs": n_docs, "tokens": tokens, "bytes": os.path.getsize(path)}


# --- registry tables ---------------------------------------------------------

DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "fr", "zh", "de", "es")
LANG_P = (0.44, 0.13, 0.15, 0.14, 0.14)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PART_ADJ = ("red", "old", "cold", "hot", "new", "large", "small", "blue")
PART_NOUN = ("bolt", "plate", "widget", "gear", "ring", "rod", "anvil", "gizmo")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
TABLE_SCALE = 0.01  # rows relative to TPC-H scale factor 1


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _days(rng: np.random.Generator, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def write_tables(out_dir: str, seed: int) -> dict:
    """Write the ten registry tables into ``out_dir``; return their row
    counts, the words in ``documents`` and the bytes written."""
    rng = np.random.default_rng([seed, 2])
    scale = TABLE_SCALE
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_events, n_docs, n_vecs = int(1_000_000 * scale), int(50_000 * scale), int(50_000 * scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.asarray(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": np.char.add(
            np.char.add(np.asarray(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.asarray(PART_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.asarray(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": np.asarray(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2404), pa.timestamp("us")),
        "o_orderpriority": np.asarray(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.asarray(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", 2497), pa.timestamp("us")),
    })
    gaps = rng.exponential(30 * 86400 / n_events, n_events)
    ts = np.datetime64("2024-01-01", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_events)),
        "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            w = np.asarray(DOC_WORDS)[rng.integers(0, len(DOC_WORDS), rng.integers(10, 100))]
            texts.append(" ".join(w.tolist()))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": np.asarray(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    size = {name: table.num_rows for name, table in t.items()}
    size["doc_tokens"] = sum(len(s.split()) for s in texts)
    size["bytes"] = sum(os.path.getsize(os.path.join(out_dir, f"{n}.parquet")) for n in t)
    return size
