"""Output checks for the benchmark's checked iteration.

Every check compares one query's parquet output with the catalog's own
oracle SQL run in DuckDB over the same input files, apart from Spark,
compared the way `tools/check_oracle.py` compares: columns sorted by
name, rows sorted, each cell keyed by its dtype kind and a
10-significant-digit rendering. The near-dup oracles are the exact
(df-capped) Jaccard pair lists, so pair order, the 0.8 threshold and
completeness are all part of the comparison.

`perturbations(mix)` lists, for each check, a change to a copy of one
output that the check must reject; `run.py --perturb` applies them.
"""
import glob
import math
import os

import duckdb

INT_KINDS = ("int8", "int16", "int32", "int64",
             "uint8", "uint16", "uint32", "uint64")
TABLES = ["customer", "orders", "part", "documents"]


def _kind(dtype):
    s = str(dtype).lower()
    if s.startswith(INT_KINDS):
        return "i"
    if s.startswith(("float", "double")):
        return "f"
    if s.startswith("bool"):
        return "b"
    if s.startswith(("datetime", "timestamp")):
        return "t"
    if s == "object" or s.startswith(("str", "category")):
        return "s"
    return s


def _norm(v):
    if v is None:
        return ("\x00null",)
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else (f"{v:.10g}",)
    return (str(v),)


def _rows(df):
    df = df.reindex(sorted(df.columns), axis=1)
    kinds = [_kind(df[c].dtype) for c in df.columns]
    rows = sorted(tuple(x for c, k in zip(r, kinds) for x in (k,) + _norm(c))
                  for r in df.itertuples(index=False))
    return list(df.columns), kinds, rows


class Checker:
    def __init__(self, data_dir, res_dir, oracle):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {os.cpu_count() or 1}")
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        self.data_dir = data_dir
        self.res_dir = res_dir
        self.oracle = oracle

    def got(self, q):
        files = glob.glob(os.path.join(self.res_dir, q, "*.parquet"))
        if not files:
            raise AssertionError(f"{q}: no output files")
        return self.con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchdf()

    def scalar(self, sql):
        return self.con.execute(sql).fetchone()[0]

    # ---- checks: each raises AssertionError with a reason ----

    def oracle_match(self, q):
        gc, gk, g = _rows(self.got(q))
        wc, wk, w = _rows(self.con.execute(self.oracle[q]).fetchdf())
        assert gc == wc, f"{q}: columns {gc} vs oracle {wc}"
        assert gk == wk, f"{q}: dtype kinds {gk} vs oracle {wk}"
        assert len(g) == len(w), f"{q}: {len(g)} rows vs oracle {len(w)}"
        bad = [(a, b) for a, b in zip(g, w) if a != b]
        assert not bad, f"{q}: {len(bad)} rows differ, first {bad[0]}"


def checks(mix):
    """(name, fn(Checker)) for every check of a query mix."""
    return [(f"oracle:{q}", lambda c, q=q: c.oracle_match(q)) for q in mix]


def run_checks(checker, mix):
    """Return [(name, error or None)]."""
    res = []
    for name, fn in checks(mix):
        try:
            fn(checker)
            res.append((name, None))
        except Exception as e:  # a crash in a check is a failed check
            res.append((name, f"{type(e).__name__}: {e}"))
    return res


# ---- perturbations: (check name, query, edit of a pandas frame) ----

def _bump_first_numeric(df):
    for c in sorted(df.columns):
        if _kind(df[c].dtype) in ("i", "f"):
            df.loc[df.index[0], c] = df[c].iloc[0] + 1
            return df
    df.loc[df.index[0], df.columns[0]] = "perturbed"
    return df


def perturbations(mix):
    return [(f"oracle:{q}", q, _bump_first_numeric) for q in mix]
