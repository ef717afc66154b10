"""Tests of the benchmark's own generator and output checks.

Run from the repository root: ``python3 -m pytest perfbench -q``.
No Spark session is started: correct outputs are built here from the
generated inputs with DuckDB and pyarrow, each check must accept them,
and must reject them once a row is dropped, a key duplicated or a
value changed.
"""

from __future__ import annotations

import csv
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks, gen  # noqa: E402


def _tables(dir_: str) -> dict:
    out = {}
    for root, _, names in os.walk(dir_):
        for n in sorted(names):
            p = os.path.join(root, n)
            out[os.path.relpath(p, dir_)] = pq.read_table(p)
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a, b, c = (tmp_path / x for x in "abc")
    for d in (a, b, c):
        d.mkdir()
    info_a = gen.GENERATORS[workload](str(a), 7)
    info_b = gen.GENERATORS[workload](str(b), 7)
    gen.GENERATORS[workload](str(c), 8)
    ta, tb, tc = _tables(str(a)), _tables(str(b)), _tables(str(c))
    assert info_a["rows"] == info_b["rows"]
    assert ta.keys() == tb.keys() == tc.keys()
    assert all(ta[k].equals(tb[k]) for k in ta)
    assert not all(ta[k].equals(tc[k]) for k in ta)


def test_row_counts_do_not_depend_on_seed(tmp_path):
    for workload, fn in gen.GENERATORS.items():
        counts = []
        for seed in (1, 2):
            d = tmp_path / f"{workload}{seed}"
            d.mkdir()
            counts.append(fn(str(d), seed)["rows"])
        assert counts[0] == counts[1], workload


# ---------------------------------------------------------------------------
# etl_load
# ---------------------------------------------------------------------------


def _write_dir(table: pa.Table, path: str) -> None:
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


@pytest.fixture
def etl_outputs(tmp_path):
    inputs, out = str(tmp_path / "in"), str(tmp_path / "out")
    os.makedirs(inputs)
    os.makedirs(out)
    info = gen.gen_etl(inputs, 3)
    con = duckdb.connect()
    union = " UNION ALL BY NAME ".join(
        [f"SELECT *, CAST(0 AS INTEGER) AS o_version FROM '{inputs}/orders.parquet'"]
        + [f"SELECT * FROM '{p}'" for p in info["merge_batches"]]
        + [f"SELECT * FROM '{inputs}/orders_new.parquet'"]
    )
    latest = con.execute(
        f"SELECT * FROM ({union}) QUALIFY o_version = max(o_version) OVER (PARTITION BY o_orderkey)"
    ).fetch_arrow_table()
    _write_dir(latest, f"{out}/orders_tbl")
    good, n_bad = checks._etl_expected_text(con, inputs)
    os.makedirs(f"{out}/csv")
    with open(f"{out}/csv/part-00000.csv", "w", newline="") as fh:
        w = csv.writer(fh, quoting=csv.QUOTE_ALL)
        w.writerow(checks.ETL_TEXT_COLUMNS)
        for r in good:
            w.writerow([r[0], r[1].strftime("%Y-%m-%d %H:%M:%S.%f"), *r[2:]])
    os.makedirs(f"{out}/hive")
    with open(f"{out}/hive/part-00000", "w") as fh:
        for r in good:
            vals = [r[0], r[1].isoformat(timespec="milliseconds"), *r[2:]]
            fh.write("\x01".join(str(v) for v in vals) + "\n")
    _write_dir(pa.table({"event_id": list(range(n_bad))}), f"{out}/bad")
    return inputs, out, info


def _rewrite_text(path: str, edit) -> None:
    with open(path) as fh:
        lines = fh.readlines()
    with open(path, "w") as fh:
        fh.writelines(edit(lines))


def test_etl_check_accepts_correct_outputs(etl_outputs):
    inputs, out, info = etl_outputs
    assert checks.etl(inputs, out, info["merge_batches"]) == []


@pytest.mark.parametrize(
    "corrupt",
    ["drop_target_row", "duplicate_target_key", "stale_version", "drop_csv_row", "change_hive_value", "lose_bad_row"],
)
def test_etl_check_rejects_corruption(etl_outputs, corrupt):
    inputs, out, info = etl_outputs
    target = f"{out}/orders_tbl/part-00000.parquet"
    t = pq.read_table(target)
    if corrupt == "drop_target_row":
        pq.write_table(t.slice(1), target)
    elif corrupt == "duplicate_target_key":
        pq.write_table(pa.concat_tables([t, t.slice(0, 1)]), target)
    elif corrupt == "stale_version":
        v = t.column("o_version").to_pylist()
        i = next(j for j, x in enumerate(v) if x > 0)
        v[i] -= 1
        pq.write_table(t.set_column(t.schema.get_field_index("o_version"), "o_version", pa.array(v, pa.int32())), target)
    elif corrupt == "drop_csv_row":
        _rewrite_text(f"{out}/csv/part-00000.csv", lambda ls: ls[:-1])
    elif corrupt == "change_hive_value":
        _rewrite_text(f"{out}/hive/part-00000", lambda ls: [ls[0].replace("\x01t", "\x01x", 1)] + ls[1:])
    elif corrupt == "lose_bad_row":
        b = f"{out}/bad/part-00000.parquet"
        pq.write_table(pq.read_table(b).slice(1), b)
    assert checks.etl(inputs, out, info["merge_batches"]) != []


# ---------------------------------------------------------------------------
# curation (the last steps of etl_load)
# ---------------------------------------------------------------------------


@pytest.fixture
def corpus_outputs(tmp_path):
    inputs, out = str(tmp_path / "in"), str(tmp_path / "out")
    os.makedirs(inputs)
    os.makedirs(out)
    gen.gen_corpus(inputs, 5)
    docs = pq.read_table(f"{inputs}/documents.parquet").to_pydict()
    truth = dict(zip(*pq.read_table(f"{inputs}/truth_groups.parquet").to_pydict().values()))
    first = {}
    for i in sorted(truth):
        g = truth[i]
        if g >= 0:
            first.setdefault(g, i)
    keep = {i for i, g in truth.items() if g == -1} | set(first.values())
    chosen, per_source = [], {}
    for i, t, s in zip(docs["doc_id"], docs["text"], docs["source"]):
        if i in keep and per_source.get(s, 0) < gen.CORPUS_QUOTA:
            per_source[s] = per_source.get(s, 0) + 1
            chosen.append((i, s, t, len(t.split(" "))))
    cur = pa.table(
        {k: [r[j] for r in chosen] for j, k in enumerate(("doc_id", "source", "text", "n_tokens"))}
    )
    _write_dir(cur, f"{out}/curated")
    rows, pos = [], 0
    for i, _, _, n in sorted(chosen):
        for seq in range(pos // 256, (pos + n - 1) // 256 + 1):
            lo, hi = max(pos, seq * 256), min(pos + n, (seq + 1) * 256)
            rows.append((0, seq, i, lo - pos, hi - pos))
        pos += n
    packed = pa.table({k: [r[j] for r in rows] for j, k in enumerate(("bucket", "seq_id", "doc_id", "doc_start", "doc_end"))})
    _write_dir(packed, f"{out}/packed")
    return inputs, out, truth


def test_corpus_check_accepts_correct_outputs(corpus_outputs):
    inputs, out, _ = corpus_outputs
    assert checks.corpus(inputs, out, gen.CORPUS_QUOTA) == []


@pytest.mark.parametrize("corrupt", ["drop_doc", "keep_duplicate", "keep_junk", "wrong_tokens", "drop_packed_row"])
def test_corpus_check_rejects_corruption(corpus_outputs, corrupt):
    inputs, out, truth = corpus_outputs
    path = f"{out}/curated/part-00000.parquet"
    cur = pq.read_table(path)
    docs = pq.read_table(f"{inputs}/documents.parquet")
    by_id = {r["doc_id"]: r for r in docs.to_pylist()}

    def add(doc_id):
        r = by_id[doc_id]
        extra = pa.table(
            {"doc_id": [doc_id], "source": [r["source"]], "text": [r["text"]], "n_tokens": [len(r["text"].split(" "))]}
        )
        pq.write_table(pa.concat_tables([cur, extra.cast(cur.schema)]), path)

    if corrupt == "drop_doc":
        pq.write_table(cur.slice(1), path)
    elif corrupt == "keep_duplicate":
        kept = set(cur.column("doc_id").to_pylist())
        groups = {}
        for i, g in truth.items():
            if g >= 0:
                groups.setdefault(g, []).append(i)
        extra = next(i for m in groups.values() if set(m) & kept for i in m if i not in kept)
        add(extra)
    elif corrupt == "keep_junk":
        add(next(i for i, g in truth.items() if g == -2))
    elif corrupt == "wrong_tokens":
        n = cur.column("n_tokens").to_pylist()
        n[0] += 1
        pq.write_table(cur.set_column(3, "n_tokens", pa.array(n, cur.schema.field("n_tokens").type)), path)
    elif corrupt == "drop_packed_row":
        p = f"{out}/packed/part-00000.parquet"
        pq.write_table(pq.read_table(p).slice(1), p)
    assert checks.corpus(inputs, out, gen.CORPUS_QUOTA) != []


# ---------------------------------------------------------------------------
# analytic_queries
# ---------------------------------------------------------------------------


class _Frame:
    """Stands in for a collected Spark DataFrame."""

    def __init__(self, columns, rows):
        self.columns = list(columns)
        self._rows = rows

    def collect(self):
        return list(self._rows)


@pytest.fixture
def analytic_setup(tmp_path):
    import __spark_entry__
    from tools.oracle_compare import fetch_oracle_typed, register_views

    inputs = str(tmp_path)
    gen.gen_analytic(inputs, 11)
    oracles = {n: __spark_entry__.oracle_sql()[n] for n in ("pricing_summary", "join_3way")}
    con = duckdb.connect()
    register_views(con, inputs)
    results = {n: fetch_oracle_typed(con, q) for n, q in oracles.items()}
    return inputs, oracles, results


def test_analytic_check_accepts_oracle_equal_results(analytic_setup):
    inputs, oracles, results = analytic_setup
    queries = {n: (lambda spark, d, r=r: _Frame(*r)) for n, r in results.items()}
    assert checks.analytic(None, inputs, queries, oracles) == []


@pytest.mark.parametrize("corrupt", ["drop_row", "duplicate_row", "change_value"])
def test_analytic_check_rejects_corruption(analytic_setup, corrupt):
    inputs, oracles, results = analytic_setup
    cols, rows = results["pricing_summary"]
    if corrupt == "drop_row":
        rows = rows[1:]
    elif corrupt == "duplicate_row":
        rows = rows + rows[:1]
    else:
        rows = [rows[0][:-1] + (rows[0][-1] + 1,)] + rows[1:]
    queries = {n: (lambda spark, d, r=r: _Frame(*r)) for n, r in results.items()}
    queries["pricing_summary"] = lambda spark, d: _Frame(cols, rows)
    assert checks.analytic(None, inputs, queries, oracles) != []
