"""Correctness checks: the engine's outputs against computations made
apart from it (the generator's recorded counts, and DuckDB running each
query's registered oracle SQL on the same parquet files).

Each check returns ``(failed_ops, problems)``: the number of operations
whose output was wrong, and human-readable notes for the log.
"""
import glob
import hashlib
import json
import os
import re

import gen

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _parts(d, suffix):
    """Part files of a Spark output directory, in partition order."""
    return sorted(glob.glob(os.path.join(d, "part-*" + suffix)))


def text_output(d):
    out = b""
    for p in _parts(d, ".txt"):
        with open(p, "rb") as f:
            out += f.read()
    return out


def corpus(inputs, result):
    """Every build wrote exactly the expected index (term order and
    posting order included); its posting counts add up to the
    indexable-token total the generator emitted, and so does the
    engine's own ``observe("metrics")`` count of each build."""
    with open(os.path.join(inputs, "expected_index.txt"), "rb") as f:
        expected = f.read()
    with open(os.path.join(inputs, "expected.json")) as f:
        kept = json.load(f)["kept_tokens"]
    failed, notes = 0, []
    for d, observed in zip(result["builds"], result["observed_words"]):
        got = text_output(d)
        total = sum(int(c) for c in re.findall(rb"#(\d+)(?:,|\n)", got))
        if got != expected or total != kept or observed != kept:
            failed += 1
            notes.append(f"{os.path.basename(d)}: {len(got)} bytes "
                         f"(expected {len(expected)}), posting counts sum to "
                         f"{total}, observe('metrics') counted {observed}, "
                         f"generator emitted {kept} indexable tokens")
    missing = len(result["builds"]) - len(result["observed_words"])
    if missing:
        notes.append(f"no observe('metrics') count for {missing} builds")
    return failed + abs(missing), notes


def serve(inputs, out, result):
    """Every lookup returned the postings the generator's record of base
    plus committed appended documents gives; docCount equals the number
    of appended documents."""
    with open(os.path.join(out, "serve_results.jsonl")) as f:
        rows = [json.loads(line) for line in f]
    want, appended = gen.serve_replay(inputs, len(rows))
    bad = [i for i, (g, w) in enumerate(zip(rows, want)) if g != w]
    notes = [f"op {i}: engine answered {rows[i]}, expected {want[i]}"
             for i in bad[:5]]
    failed = len(bad)
    if int(result["doc_count"]) != appended:
        notes.append(f"docCount {result['doc_count']}, appended {appended}")
        failed += 1
    return failed, notes


def _norm_cell(v):
    import datetime
    import numpy as np
    import pandas as pd
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(x)}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if v != v:
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, np.integer):
        return str(int(v))
    if v is None or (not isinstance(v, str) and pd.isna(v)):
        return "None"
    return str(v)


def _norm_col(s):
    """A result column as comparable strings: numbers compare by value
    (3.0 == 3, floats to 9 decimals), whatever width or type each side
    chose. Plain integer and string columns take a vectorized path."""
    if s.dtype.kind in "iu":
        return s.astype(str).tolist()
    return [_norm_cell(v) for v in s.tolist()] if s.dtype.kind != "O" \
        else [_norm_cell(v) for v in s]


def frame_rows(df):
    """Columns sorted by name, and rows as tuples of normalized cells."""
    df = df.reindex(sorted(df.columns), axis=1)
    return list(df.columns), list(zip(*(_norm_col(df[c]) for c in df.columns)))


def _oracle(con, inputs, sql):
    """DuckDB's normalized answer to `sql`, kept beside the inputs (the
    same seed and SQL always give the same answer)."""
    cache = os.path.join(inputs, "oracle",
                         hashlib.sha256(sql.encode()).hexdigest() + ".json")
    if os.path.exists(cache):
        with open(cache) as f:
            cols, rows = json.load(f)
        return cols, [tuple(r) for r in rows]
    cols, rows = frame_rows(con.execute(sql).df())
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache + ".tmp", "w") as f:
        json.dump([cols, rows], f)
    os.replace(cache + ".tmp", cache)
    return cols, rows


def mix(inputs, out, result):
    """Every query result of every pass equals DuckDB running the query's
    registered oracle SQL on the same parquet tables (row order included:
    every registered query ends in a total-order ORDER BY)."""
    import duckdb
    import pandas as pd
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(inputs, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    want = {n: _oracle(con, inputs, sql) for n, sql in oracle.items()}
    failed, notes = 0, []
    for n, d in result["outputs"]:
        files = _parts(d, ".parquet")
        got = frame_rows(pd.concat(
            [pd.read_parquet(f) for f in files], ignore_index=True)) \
            if files else None
        if got != want[n]:
            failed += 1
            notes.append(f"{os.path.relpath(d, out)}: result differs from the "
                         "DuckDB oracle")
    return failed, notes
