"""DuckDB oracle check for registry rows, the protocol of
tools/check_oracle.py: each Spark result (a parquet dir) must equal its
row's oracle SQL run over the same input files, as a multiset of rows
with columns sorted by name and floats rounded to 4 dp. Every count the
timed loop saw must also equal the oracle's row count.
"""
from pathlib import Path

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        return f"{v:.4f}" if isinstance(v, float) else str(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def check(inputs: Path, results: Path, oracle_sql: dict, counts: dict) -> dict:
    """Returns row name -> reason, for every row that does not match."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in TABLES:
        p = inputs / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for name, sql in sorted(oracle_sql.items()):
        res = results / name
        if not res.is_dir():
            bad[name] = "no spark result"
            continue
        try:
            s = con.execute(f"SELECT * FROM read_parquet('{res}/*.parquet')")
            s_cols = [d[0] for d in s.description]
            s_rows = s.fetchall()
            d = con.sql(sql)
            d_cols = list(d.columns)
            d_rows = d.fetchall()
        except Exception as e:  # a broken result or oracle is a mismatch
            bad[name] = f"error: {e}"[:300]
            continue
        seen = [c for c in counts.get(f"q:{name}", []) if c >= 0 and c != len(d_rows)]
        if sorted(s_cols) != sorted(d_cols):
            bad[name] = f"columns {sorted(s_cols)} != {sorted(d_cols)}"
        elif canon(s_rows, s_cols) != canon(d_rows, d_cols):
            bad[name] = f"{len(s_rows)} spark rows differ from {len(d_rows)} oracle rows"
        elif seen:
            bad[name] = f"timed counts {seen} != oracle rows {len(d_rows)}"
    return bad
