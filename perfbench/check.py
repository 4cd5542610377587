"""Output checks that never call the program's own code.

live-chat: the final word and category tables must equal counts
computed here, in plain Python, from the messages the generator sent.
Query library: each query's result must match its DuckDB oracle SQL on
the same fixture files, compared by the rules of tools/check.py (columns
sorted by lower-cased name, rows sorted, every cell compared as `str`).
"""
import collections
import json
import os

import numpy as np


def load_stopwords(path):
    with open(path, encoding="utf-8") as f:
        return frozenset(w.strip() for w in f if w.strip())


def load_oracle(path):
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def expected_counts(bodies, topics, stopwords, min_len=3):
    """Word counts and category counts for a list of message bodies.

    Words: lower-case, split on whitespace, drop stop words, keep words
    longer than `min_len` characters. Categories: a label counts once per
    message when more than half of its keywords occur among the message's
    lower-cased whitespace tokens.
    """
    words = collections.Counter()
    cats = collections.Counter()
    for body in bodies:
        toks = body.lower().split()
        words.update(t for t in toks if len(t) > min_len and t not in stopwords)
        present = set(toks)
        for label, kws in topics:
            if kws and sum(k in present for k in kws) / len(kws) > 0.5:
                cats[label] += 1
    return words, cats


def read_kv_table(path):
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    keys = t.column(0).to_pylist()
    counts = t.column("count").to_pylist()
    out = collections.Counter()
    for k, c in zip(keys, counts):
        out[k] += c
    return out


def diff_counts(expected, actual, what):
    errors = []
    for k in sorted(set(expected) | set(actual), key=str):
        if expected.get(k, 0) != actual.get(k, 0):
            errors.append(f"{what}[{k!r}]: expected {expected.get(k, 0)}, table has {actual.get(k, 0)}")
    return errors


def stream_correctness(res, msgs, topics, stopwords, channel):
    """Every sent line is an attempted operation. A failure is a table key
    whose count is wrong, a send the tables never reflected, a round
    whose tables are missing, or a connection that never answered the
    server's PING."""
    errors = list(res.get("failures", []))
    for c in res["server"]["active"]:
        if c["pongs"] < 1:
            errors.append(f"connection {c['nick']} answered none of {c['pings']} PINGs")
    failed = len(errors)
    for r in res["rounds"]:
        bodies = [b for _, b in msgs[r["first_msg"]:r["end_msg"]]]
        words, cats = expected_counts(bodies, topics, stopwords)
        for table, expected in ((f"{channel}_wordcount", words), (f"{channel}_categoryCount", cats)):
            path = os.path.join(r["sink_dir"], table)
            if not os.path.isdir(path):
                errors.append(f"round {r['round']}: table {table} missing")
                failed += 1
                continue
            d = diff_counts(expected, read_kv_table(path), f"round {r['round']} {table}")
            errors += d
            failed += len(d)
    return {"attempted": len(msgs), "failed": failed, "errors": errors}


def canon(df, side):
    """tools/check.py's canonical form: (lower-cased column names, sorted rows of str cells)."""
    for c in df.columns:
        if len(df) and isinstance(df[c].iloc[0], (list, np.ndarray)):
            raise ValueError(f"{side} column '{c}' is array-typed")
    df = df[sorted(df.columns, key=str.lower)]
    rows = sorted(tuple(str(v) for v in row) for row in df.itertuples(index=False))
    return [c.lower() for c in df.columns], rows


def fingerprint(cols, rows):
    import hashlib
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(json.dumps(r).encode())
    return h.hexdigest()


def oracle_connection(fixtures):
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(fixtures)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(fixtures, f)}'")
    return con


def library_correctness(res, oracle, fixtures, work):
    """Every registry query in the roster is an attempted operation. A
    failure is a query that threw in either pass, whose result differs
    from the oracle's, or whose timed pass returned another row count."""
    import pandas as pd
    con = oracle_connection(fixtures)
    errors = list(res.get("failures", []))
    bad = {e.split(":")[0] for e in errors}
    timed = {q["name"]: q for q in res["queries"]}
    for name, sql in sorted(oracle.items()):
        if name in bad:
            continue
        try:
            want = canon(con.sql(sql).df(), "oracle")
            got = canon(pd.read_parquet(os.path.join(work, "results", name)), "spark")
        except Exception as e:  # noqa: BLE001 - any failure to compare is a failed query
            errors.append(f"{name}: compare error: {str(e)[:200]}")
            bad.add(name)
            continue
        q = timed.get(name)
        if fingerprint(*want) != fingerprint(*got):
            errors.append(f"{name}: result differs from oracle (rows {len(got[1])} vs {len(want[1])})")
            bad.add(name)
        elif q is None or not q["ok"] or q["rows"] != len(want[1]):
            errors.append(f"{name}: timed pass {q and q.get('error') or 'row count differs'}")
            bad.add(name)
    return {"attempted": len(oracle), "failed": len(bad), "errors": errors}


def merge(a, b):
    return {"attempted": a["attempted"] + b["attempted"], "failed": a["failed"] + b["failed"],
            "errors": a["errors"] + b["errors"]}
