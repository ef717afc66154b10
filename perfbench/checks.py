"""Independent checks of each workload's outputs, run once per run
outside the timed passes.

Expected results come from DuckDB over the generated inputs, from the
generator's ground truth, or from properties the method must have;
outputs are read back with pyarrow, Python's ``csv`` module or plain
text parsing, never through the program. Each check returns a list of
problems; an empty list means the outputs are correct.
"""

from __future__ import annotations

import csv
import datetime as dt
import glob
import os
from collections import Counter

import duckdb
import pyarrow.parquet as pq

ETL_TEXT_COLUMNS = ("event_id", "ts", "user_id", "event_type", "value", "k", "tag")
# The CSV sink passes writer options through; this one keeps the
# microseconds that the default timestamp format would drop.
ETL_CSV_OPTIONS = {"timestampNTZFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS"}


def _duck():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


def diff_rows(what: str, got, want) -> list[str]:
    """Multiset comparison of two row iterables."""
    g, w = Counter(map(tuple, got)), Counter(map(tuple, want))
    if g == w:
        return []
    missing = w - g
    extra = g - w
    sample = next(iter(missing or extra))
    return [
        f"{what}: {sum(g.values())} rows, expected {sum(w.values())}; "
        f"{sum(missing.values())} missing, {sum(extra.values())} unexpected, e.g. {sample!r}"
    ]


def _rows(table, cols) -> list[tuple]:
    t = table.select(list(cols)).to_pydict()
    return list(zip(*(t[c] for c in cols)))


# ---------------------------------------------------------------------------
# analytic_queries
# ---------------------------------------------------------------------------


def analytic(spark, inputs: str, queries: dict, oracles: dict) -> list[str]:
    """Each query's collected result equals its registered DuckDB oracle,
    compared with the repository's strict canonicalizer."""
    from tools.oracle_compare import compare, register_views

    con = _duck()
    register_views(con, inputs)
    problems = []
    for name, fn in queries.items():
        schema_ok, values_ok, ns, no = compare(con, fn(spark, inputs), oracles[name])
        if not (schema_ok and values_ok):
            problems.append(f"{name}: schema_ok={schema_ok} values_ok={values_ok} rows {ns} vs oracle {no}")
    return problems


# ---------------------------------------------------------------------------
# etl_load
# ---------------------------------------------------------------------------

ORDER_COLUMNS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
    "o_version",
)


def _etl_expected_text(con, inputs: str) -> tuple[list[tuple], int]:
    """Extracted good rows (json field, exploded tags) and the count of
    quarantined rows, from the raw events."""
    ev = os.path.join(inputs, "events.parquet")
    base = f"""
        SELECT event_id, ts, user_id, event_type, value,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
               unnest(from_json(json_extract(props, '$.tags'), '["VARCHAR"]')) AS tag
        FROM '{ev}'
    """
    good = con.execute(f"SELECT * FROM ({base}) WHERE k IS NOT NULL").fetchall()
    bad = con.execute(f"SELECT count(*) FROM ({base}) WHERE k IS NULL").fetchone()[0]
    return good, bad


def _text_row(vals: list[str], ts_parse) -> tuple:
    event_id, ts, user_id, event_type, value, k, tag = vals
    return (int(event_id), ts_parse(ts), int(user_id), event_type, float(value), int(k), tag)


def parse_csv_dir(path: str) -> list[tuple]:
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f, newline="", encoding="utf-8") as fh:
            reader = csv.reader(fh)
            header = next(reader, None)
            if header is None:
                continue
            if tuple(header) != ETL_TEXT_COLUMNS:
                raise ValueError(f"CSV header {header}")
            for vals in reader:
                rows.append(_text_row(vals, lambda s: dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S.%f")))
    return rows


def parse_hive_text_dir(path: str) -> list[tuple]:
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                vals = [None if v == r"\N" else v for v in line.rstrip("\n").split("\x01")]
                rows.append(_text_row(vals, dt.datetime.fromisoformat))
    return rows


def _to_ms(row: tuple) -> tuple:
    ts = row[1]
    return row[:1] + (ts.replace(microsecond=ts.microsecond // 1000 * 1000),) + row[2:]


def etl(inputs: str, out: str, batch_paths: list[str]) -> list[str]:
    con = _duck()
    problems = []

    # MERGE target: latest version per key over base, batches, append.
    parts = [f"SELECT *, CAST(0 AS INTEGER) AS o_version FROM '{inputs}/orders.parquet'"]
    parts += [f"SELECT * FROM '{p}'" for p in batch_paths]
    parts += [f"SELECT * FROM '{inputs}/orders_new.parquet'"]
    union = " UNION ALL BY NAME ".join(parts)
    want = con.execute(
        f"SELECT {', '.join(ORDER_COLUMNS)} FROM ({union}) "
        "QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY o_version DESC) = 1"
    ).fetchall()
    problems += diff_rows("orders_tbl", _rows(pq.read_table(f"{out}/orders_tbl"), ORDER_COLUMNS), want)

    # Text sinks and quarantine.
    good, n_bad = _etl_expected_text(con, inputs)
    problems += diff_rows("csv sink", parse_csv_dir(f"{out}/csv"), good)
    # The Hive-text sink writes timestamps to the millisecond only.
    problems += diff_rows("hive_text sink", parse_hive_text_dir(f"{out}/hive"), [_to_ms(r) for r in good])
    got_bad = pq.read_table(f"{out}/bad").num_rows
    if got_bad != n_bad:
        problems.append(f"quarantine: {got_bad} rows, expected {n_bad}")
    return problems


# ---------------------------------------------------------------------------
# curation (the last steps of etl_load)
# ---------------------------------------------------------------------------


def corpus(inputs: str, out: str, quota: int) -> list[str]:
    docs = pq.read_table(f"{inputs}/documents.parquet").to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    source = dict(zip(docs["doc_id"], docs["source"]))
    truth = pq.read_table(f"{inputs}/truth_groups.parquet").to_pydict()
    groups: dict[int, list[int]] = {}
    keep = set()  # what dedup must leave: unique docs, min id per group
    for i, g in zip(truth["doc_id"], truth["grp"]):
        if g == -1:
            keep.add(i)
        elif g >= 0:
            groups.setdefault(g, []).append(i)
    keep |= {min(m) for m in groups.values()}
    keep_per_source = Counter(source[i] for i in keep)

    cur = pq.read_table(f"{out}/curated").to_pydict()
    ids = cur["doc_id"]
    problems = []
    if len(set(ids)) != len(ids):
        problems.append(f"curated: {len(ids) - len(set(ids))} duplicated doc_id")
    unknown = [i for i in ids if i not in text]
    if unknown:
        problems.append(f"curated: {len(unknown)} doc_id not in the input, e.g. {unknown[0]}")
    changed = [i for i, s, t in zip(ids, cur["source"], cur["text"]) if i in text and (text[i], source[i]) != (t, s)]
    if changed:
        problems.append(f"curated: {len(changed)} rows differ from the input, e.g. doc {changed[0]}")
    stray = [i for i in ids if i in text and i not in keep]
    if stray:
        problems.append(f"curated: {len(stray)} junk or non-canonical duplicates kept, e.g. doc {stray[0]}")
    per_source = Counter(cur["source"])
    for s in sorted(set(source.values())):
        want = min(quota, keep_per_source[s])
        if per_source[s] != want:
            problems.append(f"curated: source {s} has {per_source[s]} docs, expected {want}")
    chosen = set(ids)
    for g, members in groups.items():
        s = source[members[0]]
        kept = sum(m in chosen for m in members)
        if kept > 1 or (kept == 0 and keep_per_source[s] <= quota):
            problems.append(f"duplicate group {g}: {kept} members kept")
            break
    bad_tokens = [i for i, n in zip(ids, cur["n_tokens"]) if i in text and n != len(text[i].split(" "))]
    if bad_tokens:
        problems.append(f"curated: wrong n_tokens for {len(bad_tokens)} docs, e.g. doc {bad_tokens[0]}")

    packed = pq.read_table(f"{out}/packed").to_pydict()
    per_doc = Counter()
    per_seq = Counter()
    for b, s, i, lo, hi in zip(packed["bucket"], packed["seq_id"], packed["doc_id"], packed["doc_start"], packed["doc_end"]):
        per_doc[i] += hi - lo
        per_seq[(b, s)] += hi - lo
    want_tokens = dict(zip(ids, cur["n_tokens"]))
    if dict(per_doc) != want_tokens:
        problems.append(
            f"packed: {sum(per_doc.values())} tokens over {len(per_doc)} docs, "
            f"expected {sum(want_tokens.values())} over {len(want_tokens)}"
        )
    if per_seq and max(per_seq.values()) > 256:
        problems.append(f"packed: a sequence holds {max(per_seq.values())} tokens")
    return problems
