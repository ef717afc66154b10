"""Seeded input generator for the benchmark workloads.

Every table the program reads is written here, from ``--seed`` alone,
into the run's own work directory. The schemas and value distributions
follow the sf0.1 test tables (TPC-H-like ``orders``/``lineitem``/
``customer`` plus the ``events`` and ``documents`` tables); row counts
are fixed per workload so ``rows_per_s`` divides by the same number on
every seed.

Each generator returns ``{name: row_count}`` for the rows a pass reads,
and may return ground truth the checks need (planted duplicate groups,
merge batches) alongside.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# The sf0.1 documents vocabulary (31 words; "the" and "a" are English
# stopwords, so ordinary documents pass the quality and language gates).
VOCAB = (
    "query row stream the batch sort value hash filter big data dup spark "
    "line small fast group customer part column order scan a slow agg key "
    "window table merge vector join"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

ORDER_DAY0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = (dt.datetime(2001, 8, 1) - ORDER_DAY0).days + 1
SHIP_DAY0 = dt.datetime(1995, 1, 2)
SHIP_DAYS = (dt.datetime(2001, 11, 4) - SHIP_DAY0).days + 1
EVENT_T0 = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86400 * 1_000_000


def _ts(day0: dt.datetime, micros: np.ndarray) -> pa.Array:
    base = int((day0 - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(base + micros.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write(dir_: str, name: str, table: pa.Table) -> str:
    path = os.path.join(dir_, f"{name}.parquet")
    pq.write_table(table, path)
    return path


def customers(rng, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
        }
    )


def nations() -> pa.Table:
    k = np.arange(25, dtype=np.int32)
    return pa.table(
        {"n_nationkey": k, "n_name": [f"NATION_{i}" for i in k], "n_regionkey": k % 5}
    )


def regions() -> pa.Table:
    return pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )


def orders(rng, keys: np.ndarray, n_cust: int) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _ts(ORDER_DAY0, rng.integers(0, ORDER_DAYS, n) * 86_400_000_000),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
        }
    )


def lineitem(rng, n: int, n_orders: int) -> pa.Table:
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
            "l_partkey": rng.integers(0, 20000, n).astype(np.int64),
            "l_suppkey": rng.integers(0, 1000, n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _ts(SHIP_DAY0, rng.integers(0, SHIP_DAYS, n) * 86_400_000_000),
        }
    )


def events(rng, n: int, n_users: int, props: list[str] | None = None) -> pa.Table:
    """Time-ordered events over 30 days: event_id follows ts, as in sf0.1."""
    micros = np.sort(rng.integers(0, EVENT_SPAN_US, n))
    if props is None:
        props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts(EVENT_T0, micros),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": props,
        }
    )


# ---------------------------------------------------------------------------
# Per-workload input sets
# ---------------------------------------------------------------------------

ANALYTIC_SIZES = {"lineitem": 300_000, "orders": 30_000, "customer": 3_000, "events": 30_000}


def gen_analytic(dir_: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    s = ANALYTIC_SIZES
    write(dir_, "region", regions())
    write(dir_, "nation", nations())
    write(dir_, "customer", customers(rng, s["customer"]))
    write(dir_, "orders", orders(rng, np.arange(s["orders"]), s["customer"]))
    write(dir_, "lineitem", lineitem(rng, s["lineitem"], s["orders"]))
    write(dir_, "events", events(rng, s["events"], 1500))
    return {"rows": dict(s)}


ETL_SIZES = {
    "events": 15_000,
    "orders": 15_000,
    "merge_batch": 2_000,
    "orders_new": 1_000,
}
ETL_MERGE_BATCHES = 3
# Share of events whose props lose the "k" field (schema drift): these
# rows must end up quarantined, not in the text sinks.
ETL_DRIFT_RATE = 0.02


def _etl_props(rng, n: int) -> list[str]:
    ks = rng.integers(0, 100, n)
    n_tags = rng.integers(1, 4, n)
    tags = rng.integers(0, 10, (n, 3))
    drift = rng.random(n) < ETL_DRIFT_RATE
    out = []
    for i in range(n):
        d = {"kk" if drift[i] else "k": int(ks[i]), "tags": [f"t{t}" for t in tags[i, : n_tags[i]]]}
        out.append(json.dumps(d))
    return out


def gen_etl(dir_: str, seed: int) -> dict:
    """Events with JSON props for the text job, an orders base table, a
    brand-new orders slice for the APPEND, and the MERGE batches: the
    first as a table for a batch MERGE job, the rest landed as files in
    ``merge_stream/`` for the streaming MERGE, oldest first."""
    rng = np.random.default_rng([seed, 2])
    s = ETL_SIZES
    n_ord = s["orders"]
    write(dir_, "events", events(rng, s["events"], 1500, _etl_props(rng, s["events"])))
    write(dir_, "orders", orders(rng, np.arange(n_ord), 4000))
    landing = os.path.join(dir_, "merge_stream")
    os.makedirs(landing)
    batch_paths = []
    for b in range(ETL_MERGE_BATCHES):
        # Updates to existing keys plus brand-new keys, with repeated
        # keys inside the batch; versions rise from batch to batch so
        # "latest version" and "last MERGE wins" agree.
        n = s["merge_batch"]
        upd = rng.integers(0, n_ord, n - n // 8)
        new = n_ord + s["orders_new"] + b * n + rng.integers(0, n // 4, n // 8)
        keys = np.concatenate([upd, new])
        t = orders(rng, keys, 4000).append_column(
            "o_version", pa.array((b + 1) * 100_000 + rng.permutation(n), type=pa.int32())
        )
        if b == 0:
            path = write(dir_, "merge_0", t)
        else:
            path = os.path.join(landing, f"batch-{b}.parquet")
            pq.write_table(t, path)
            # the file source takes files oldest first
            os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
        batch_paths.append(path)
    new_keys = np.arange(n_ord, n_ord + s["orders_new"])
    write(
        dir_,
        "orders_new",
        orders(rng, new_keys, 4000).append_column(
            "o_version", pa.array(np.zeros(len(new_keys)), type=pa.int32())
        ),
    )
    rows = {k: v for k, v in s.items() if k != "merge_batch"}
    rows["merge_batches"] = s["merge_batch"] * ETL_MERGE_BATCHES
    rows.update(gen_corpus(dir_, seed)["rows"])
    return {"rows": rows, "merge_batches": batch_paths, "merge_stream": landing}


CORPUS_DOCS = 2_000
CORPUS_SOURCES = 12
CORPUS_EXACT_GROUPS = 50
CORPUS_NEAR_GROUPS = 50
CORPUS_JUNK = 70
# Per-source quota: sources are sized unevenly so some sit below the
# quota (all their deduplicated documents must survive) and some above.
CORPUS_QUOTA = 150


def _doc(rng, n_words: int) -> list[str]:
    return list(np.array(VOCAB)[rng.integers(0, len(VOCAB), n_words)])


def _near_copy(rng, words: list[str], extra: int) -> list[str]:
    """``words`` plus ``extra`` trailing words that add no new 3-shingle.

    The document is first rewritten so its last bigram also occurs
    earlier, at ``j``; appending ``words[j + 2:]`` one word at a time
    then only repeats shingles already present. The copy is a different
    text (so exact dedup keeps it) with the same shingle set (so MinHash
    signatures are equal and LSH always pairs it with the original).
    """
    n = len(words)
    j = int(rng.integers(0, n - 2 - extra - 3))
    words[-2:] = words[j : j + 2]
    return words[j + 2 : j + 2 + extra]


def gen_corpus(dir_: str, seed: int) -> dict:
    """Documents with planted exact and near duplicate groups and junk.

    Exact copies differ from their original only in case and spacing,
    which exact dedup normalizes away. Near copies append words that
    leave the 3-shingle set unchanged (see ``_near_copy``). Junk
    documents are five long digit strings: they fail the quality gate.
    Every group lives inside one source, and ids are shuffled so the
    kept (minimum) id is not always the original.
    """
    rng = np.random.default_rng([seed, 3])
    weights = np.linspace(0.25, 1.75, CORPUS_SOURCES)
    weights /= weights.sum()
    n_base = CORPUS_DOCS - CORPUS_JUNK
    texts: list[str] = []
    sources: list[int] = []
    groups: list[int] = []  # -1: unique, -2: junk, g >= 0: planted group
    g = 0
    while len(texts) < n_base:
        src = int(rng.choice(CORPUS_SOURCES, p=weights))
        words = _doc(rng, int(rng.integers(60, 121)))
        copies = int(rng.integers(2, 4))
        planted = g < CORPUS_EXACT_GROUPS + CORPUS_NEAR_GROUPS
        if planted and rng.random() < 0.5 and len(texts) + copies <= n_base:
            if g < CORPUS_EXACT_GROUPS:
                tail = []
                variants = [words] + [
                    [words[0].capitalize()] + words[1:] if c % 2 else words[:1] + [" " + words[1]] + words[2:]
                    for c in range(1, copies)
                ]
            else:
                tail = _near_copy(rng, words, copies - 1)
                variants = [words] + [words + tail[:c] for c in range(1, copies)]
            for w in variants:
                texts.append(" ".join(w))
                sources.append(src)
                groups.append(g)
            g += 1
        else:
            texts.append(" ".join(words))
            sources.append(src)
            groups.append(-1)
    for _ in range(CORPUS_JUNK):
        texts.append(" ".join(str(x) for x in rng.integers(10**14, 10**15, 5)))
        sources.append(int(rng.integers(0, CORPUS_SOURCES)))
        groups.append(-2)
    ids = rng.permutation(len(texts)).astype(np.int64)
    table = pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), len(texts))],
            "source": [f"src{s}" for s in sources],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    ).sort_by("doc_id")
    write(dir_, "documents", table)
    truth = pa.table({"doc_id": ids, "grp": np.array(groups, dtype=np.int64)})
    pq.write_table(truth.sort_by("doc_id"), os.path.join(dir_, "truth_groups.parquet"))
    return {"rows": {"documents": len(texts)}}


GENERATORS = {
    "analytic_queries": gen_analytic,
    "etl_load": gen_etl,
}
