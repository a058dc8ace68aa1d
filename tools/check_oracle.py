#!/usr/bin/env python3
"""Local replica of the round driver's correctness gate.

Runs each oracle SQL from <outDir>/oracle_sql.json in DuckDB with the
sfDir parquet tables registered by name, and compares against the parquet
the Spark side wrote to <outDir>/<query>/. Columns are sorted by name,
rows sorted, values compared exactly (with a tiny float tolerance knob to
diagnose near-misses — the real driver hashes, so aim for exact).

With --ordered (or as tools/check_oracle_ordered.py) row ORDER is checked
too, which is only defined where the oracle has a total ORDER BY on its
outermost query. An oracle without one is compared as a row set, with a
warning. Rows tied on ORDER BY keys that are output columns are compared
as a set per tie group; ORDER BY keys that are not output columns cannot
be checked for ties, so such an oracle's order must be total (warned).
"""
import itertools
import json
import math
import re
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def row_key(t):
    return tuple((x is None, str(x)) for x in t)


def rows_of(rel, ordered=False):
    cols = rel.columns
    types = [str(t) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    data = [tuple(norm(r[i]) for i in order) for r in rel.fetchall()]
    if not ordered:
        data.sort(key=row_key)
    return [cols[i] for i in order], [types[i] for i in order], data


def order_by_keys(sql):
    """The outermost query's ORDER BY keys as written, or None without one.
    Parenthesized and quoted text is masked first, so window, subquery and
    CTE ORDER BYs do not count."""
    masked, depth, quote = [], 0, None
    for ch in sql:
        if quote:
            quote = None if ch == quote else quote
        elif ch in "'\"":
            quote = ch
        elif ch in "()":
            depth += 1 if ch == "(" else -1
        masked.append(ch if depth == 0 and not quote and ch not in "'\"()" else " ")
    flat = "".join(masked)
    found = list(re.finditer(r"\border\s+by\b", flat, re.I))
    if not found:
        return None
    start = found[-1].end()
    stop = re.search(r"\b(limit|offset)\b|;", flat[start:], re.I)
    end = start + stop.start() if stop else len(sql)
    cuts = [start - 1] + [i for i in range(start, end) if flat[i] == ","] + [end]
    return [re.sub(r"(\s+(asc|desc))?(\s+nulls\s+(first|last))?\s*$", "",
                   sql[a + 1:b].strip(), flags=re.I) for a, b in zip(cuts, cuts[1:])]


def tie_key_columns(name, sql, query_cols, cols):
    """Where in `cols` the oracle's ORDER BY keys are. None when it has no
    ORDER BY (rows are compared as sets); [] when a key is not an output
    column (ties cannot be found, so the order is taken as total). Both
    cases are warned."""
    keys = order_by_keys(sql)
    if keys is None:
        print(f"WARN {name}: oracle has no ORDER BY; compared as row sets")
        return None
    names = [query_cols[int(k) - 1] if k.isdigit() and 0 < int(k) <= len(query_cols)
             else k.split(".")[-1].strip('"') for k in keys]
    lower = [c.lower() for c in cols]
    if any(n.lower() not in lower for n in names):
        print(f"WARN {name}: ORDER BY {keys} not all output columns; "
              "assuming a total order")
        return []
    return [lower.index(n.lower()) for n in names]


def ordered_form(rows, idx):
    """The rows in a form whose equality is the oracle's order: sorted when
    there is no ORDER BY, else runs of rows tied on the keys as sorted
    groups."""
    if idx is None:
        return sorted(rows, key=row_key)
    if not idx:
        return rows
    return [(k, sorted(g, key=row_key)) for k, g in
            itertools.groupby(rows, key=lambda r: tuple(r[i] for i in idx))]


# Terminal types that historically drift at the round driver's typed-hash
# layer even when values are byte-equal (r1 postmortem): int128-backed
# aggregates, wide decimals, raw timestamps.
def risky(t):
    t = t.upper()
    if t == "HUGEINT" or t.startswith("TIMESTAMP"):
        return True
    # ALL terminal decimals are risky: the driver coerces the DuckDB side
    # to float64 ("123.4") while the Spark parquet side stays Decimal
    # ("123.40") — q_sort_limit passed r1 only because none of its 10
    # values had a trailing zero.
    return t.startswith("DECIMAL(")


def main(sf_dir, out_dir, ordered=False):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            got_cols, got_types, got = rows_of(
                con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"),
                ordered)
            want_rel = con.sql(sql)
            want_cols, want_types, want = rows_of(want_rel, ordered)
        except Exception as e:
            print(f"FAIL {name}: exception {e}")
            n_fail += 1
            continue
        if ordered:
            idx = tie_key_columns(name, sql, want_rel.columns, want_cols)
            got, want = ordered_form(got, idx), ordered_form(want, idx)
        flagged = sorted({t for t in got_types + want_types if risky(t)})
        if got_types != want_types:
            drift = [(c, a, b) for c, a, b in
                     zip(got_cols, got_types, want_types) if a != b]
            print(f"WARN {name}: type drift {drift}")
        elif flagged:
            print(f"WARN {name}: hash-risky terminal types {flagged}")
        if got_cols != want_cols:
            print(f"FAIL {name}: columns spark={got_cols} oracle={want_cols}")
            n_fail += 1
        elif got != want:
            print(f"FAIL {name}: {len(got)} vs {len(want)} rows", end="")
            diffs = [(a, b) for a, b in zip(got, want) if a != b]
            print(f", first diffs: {diffs[:2]}" if diffs else
                  f", extra spark={got[len(want):][:1]} extra oracle={want[len(got):][:1]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    print(f"== {'ORDERED: ' if ordered else ''}{n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    ordered = "--ordered" in sys.argv
    if ordered:
        sys.argv.remove("--ordered")
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    sys.exit(main(sf, out, ordered))
