#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query, exactly.

Usage: python3 tools/diff_verify.py <dumpA> <dumpB> [--only P1,P2,...]
                                    [--wallclock REGEX]
       python3 tools/diff_verify.py --selftest

Each dump is the output directory of `runMain graft.Verify <sf> <dir>`:
one parquet directory per query plus errors.json. For every query present
in either dump (or only those whose name starts with one of the --only
prefixes) it compares row count, column names and every value EXACTLY:
doubles by their bits (-0.0 differs from 0.0, NaN equals NaN), lists and
structs element by element. Columns sorted by name, rows sorted, so row
order does not matter (the oracle gate ignores it too).

This covers what tools/check_correctness.py cannot: the rowsOnly queries
the DuckDB oracle has no SQL for, and values the oracle only checks at
%.9g. Columns whose name matches the wall-clock regex (default
WALLCLOCK_DEFAULT: a `s` or `ms` name token, as in build_s, wall_s,
serve_ms_per_query) are skipped, because timings differ run to run.

Exit status 1 if any compared query differs, is missing on one side, or
errored on either side.
"""
import argparse
import json
import math
import os
import re
import struct
import sys

import duckdb

WALLCLOCK_DEFAULT = r"(^|_)(s|ms)(_|$)"


def canon(v):
    """A hashable, exactly-comparable, sortable form of one value."""
    if isinstance(v, float):
        # bits, not a rendering: distinguishes -0.0 and every last ulp
        return ("f", "nan" if math.isnan(v) else struct.pack(">d", v).hex())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple((k, canon(x)) for k, x in sorted(v.items())))
    if v is None:
        return ("n", "")
    return (type(v).__name__, repr(v))


def load(con, dump, name, skip):
    """(sorted column names, sorted canonical rows) of one query."""
    rel = con.execute(f"SELECT * FROM read_parquet('{dump}/{name}/*.parquet')")
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    keep = sorted((c, i) for i, c in enumerate(cols) if not skip.search(c))
    return ([c for c, _ in keep],
            sorted(tuple(canon(r[i]) for _, i in keep) for r in rows),
            [c for c in cols if skip.search(c)])


def diff_query(con, a, b, name, skip):
    """(status, detail) for one query present in both dumps."""
    ca, ra, skipped = load(con, a, name, skip)
    cb, rb, _ = load(con, b, name, skip)
    if ca != cb:
        return "DIFF(columns)", f"A={ca} B={cb}"
    if len(ra) != len(rb):
        return "DIFF(rows)", f"A={len(ra)} B={len(rb)}"
    bad = [(x, y) for x, y in zip(ra, rb) if x != y]
    if bad:
        return "DIFF(values)", f"{len(bad)} rows differ; first {bad[0]}"
    note = f" (skipped {skipped})" if skipped else ""
    return "SAME", f"rows={len(ra)}{note}"


def queries(dump):
    return {n for n in os.listdir(dump) if os.path.isdir(f"{dump}/{n}")}


def errors(dump):
    p = f"{dump}/errors.json"
    return json.load(open(p)) if os.path.exists(p) else {}


def run(a, b, only, skip):
    """{query: (status, detail)} over the queries of either dump."""
    con = duckdb.connect()
    ea, eb = errors(a), errors(b)
    qa, qb = queries(a), queries(b)
    names = qa | qb | set(ea) | set(eb)
    if only:
        names = {n for n in names if any(n.startswith(p) for p in only)}
    out = {}
    for name in sorted(names):
        if name in ea or name in eb:
            out[name] = ("ERROR", f"A={ea.get(name, '')[:80]} B={eb.get(name, '')[:80]}")
        elif name not in qa or name not in qb:
            out[name] = ("MISSING", f"in A={name in qa} B={name in qb}")
        else:
            out[name] = diff_query(con, a, b, name, skip)
    return out


def selftest():
    """The diff must see a one-ulp change, a -0.0/0.0 flip, a list element
    and a row-count change; it must ignore row order and wall-clock
    columns."""
    import tempfile
    with tempfile.TemporaryDirectory(prefix="diff-verify-selftest-") as root:
        check(duckdb.connect(), root)
    print("selftest OK: ulp, -0.0, list and row-count changes caught; "
          "row order and wall-clock columns ignored")


def check(con, root):
    """The selftest's cases, written under `root`."""
    def dump(side, rows_by_query):
        for name, values in rows_by_query.items():
            os.makedirs(f"{root}/{side}/{name}")
            con.execute(
                f"COPY (SELECT id, CAST(x AS DOUBLE) AS x, CAST(v AS DOUBLE[]) AS v, "
                f"CAST(build_s AS DOUBLE) AS build_s FROM (VALUES {values}) t(id, x, v, build_s)) "
                f"TO '{root}/{side}/{name}/part-0.parquet' (FORMAT PARQUET)")
        return f"{root}/{side}"

    base = "(1, '0.1', [1.0, 2.0], 3.5), (2, '0.0', [3.0], 9.25)"
    a = dump("a", {q: base for q in ["q_same", "q_ulp", "q_zero", "q_list", "q_rows"]})
    b = dump("b", {
        # the same values in another row order, with other timings
        "q_same": "(2, '0.0', [3.0], 1.0), (1, '0.1', [1.0, 2.0], 7.0)",
        "q_ulp": base.replace("'0.1'", "'0.10000000000000002'"),
        "q_zero": base.replace("'0.0'", "'-0.0'"),
        "q_list": base.replace("[3.0]", "[3.0, 0.0]"),
        "q_rows": base + ", (3, '1.0', [1.0], 0.0)"})
    got = {n: s for n, (s, _) in run(a, b, None, re.compile(WALLCLOCK_DEFAULT)).items()}
    want = {"q_same": "SAME", "q_ulp": "DIFF(values)", "q_zero": "DIFF(values)",
            "q_list": "DIFF(values)", "q_rows": "DIFF(rows)"}
    assert got == want, f"selftest: {got}"
    # with no column skipped, the timing difference shows
    assert run(a, b, ["q_same"], re.compile(r"^$"))["q_same"][0] == "DIFF(values)"


def main():
    if sys.argv[1:] == ["--selftest"]:
        selftest()
        return
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("dump_a")
    ap.add_argument("dump_b")
    ap.add_argument("--only", default="",
                    help="comma-separated query-name prefixes (default: all)")
    ap.add_argument("--wallclock", default=WALLCLOCK_DEFAULT,
                    help=f"regex of column names to skip (default {WALLCLOCK_DEFAULT!r})")
    args = ap.parse_args()
    only = [p for p in args.only.split(",") if p]
    result = run(args.dump_a, args.dump_b, only, re.compile(args.wallclock))
    for name, (status, detail) in result.items():
        print(f"{status:14s} {name}: {detail}")
    same = sum(1 for s, _ in result.values() if s == "SAME")
    print(f"\nSUMMARY same={same} different={len(result) - same}")
    sys.exit(0 if same == len(result) else 1)


if __name__ == "__main__":
    main()
