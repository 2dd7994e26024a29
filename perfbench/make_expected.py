#!/usr/bin/env python3
"""Regenerate perfbench/expected/*.tsv (needs pyarrow and duckdb).

    # SF = the sf0.1 directory TESTDATA.md lists
    # relational + curation: from graft.Verify output that passes the oracle
    (graft.Verify SF OUT, e.g. through tools/run-class.sh)
    python3 tools/compare_oracle.py SF OUT        # must be all PASS
    python3 perfbench/make_expected.py catalog OUT
    # learned: COUNT(*) of every pool query the workload can draw, by DuckDB
    python3 perfbench/make_expected.py learned SF

The catalog fingerprints are computed from the parquet Verify wrote,
the learned ones from DuckDB's answer; the harness computes its own
from the rows it executes, so a match ties each run to the oracle.
"""
import glob
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from fingerprint import fingerprint  # noqa: E402

# must match Harness.poolStrata / poolCap
POOL = "results/r14_pool/train_pool.txt"
POOL_CAP = 200
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def pool_universe(path=POOL):
    """(line index, sql) of the distinct 4-7-table pool queries, the
    first POOL_CAP of each table count in file order."""
    seen, per, out = set(), {}, []
    with open(path) as f:
        for i, line in enumerate(f):
            sql = line.strip()
            if not sql or sql in seen:
                continue
            seen.add(sql)
            m = re.search(r"\bFROM\s+(.*?)\s+WHERE\b", sql, re.I)
            if not m:
                continue
            n = len(m.group(1).split(","))
            if 4 <= n <= 7 and per.get(n, 0) < POOL_CAP:
                per[n] = per.get(n, 0) + 1
                out.append((i, sql.rstrip(";")))
    return out


def table_rows(path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    cols = {}
    for name, col in zip(t.column_names, t.columns):
        if pa.types.is_timestamp(col.type):  # to epoch microseconds
            mul, div = {"s": (1000000, 1), "ms": (1000, 1), "us": (1, 1), "ns": (1, 1000)}[col.type.unit]
            cols[name] = [None if v is None else v * mul // div
                          for v in col.cast(pa.int64()).to_pylist()]
        else:
            cols[name] = col.to_pylist()
    names = list(cols)
    return [dict(zip(names, vals)) for vals in zip(*(cols[n] for n in names))] if names else []


def catalog(out_dir):
    lines = []
    for d in sorted(glob.glob(os.path.join(out_dir, "*"))):
        if os.path.isdir(d) and glob.glob(os.path.join(d, "*.parquet")):
            lines.append(f"{os.path.basename(d)}\t{fingerprint(table_rows(d))}")
    write("catalog.tsv", "graft.Verify output at sf0.1, oracle-checked", lines)


def learned(sf_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    lines = []
    for i, sql in pool_universe():
        (count,) = con.execute(sql).fetchone()
        lines.append(f"pool{i}\t{fingerprint([{'count(1)': count}])}\t{count}")
    write("learned.tsv", f"DuckDB COUNT(*) over {os.path.basename(sf_dir.rstrip('/'))}", lines)


def write(name, source, lines):
    path = os.path.join(HERE, "expected", name)
    with open(path, "w") as f:
        f.write(f"# name\tfingerprint -- {source}\n")
        f.write("\n".join(lines) + "\n")
    print(f"wrote {len(lines)} expectations to {path}")


if __name__ == "__main__":
    {"catalog": catalog, "learned": learned}[sys.argv[1]](sys.argv[2])
