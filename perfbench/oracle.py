"""Result check against the DuckDB oracle, with the compare rules of
tools/rehearse.py: columns sorted by name, rows sorted, values compared
strictly (bit-exact floats), numeric dtype families must agree.

DuckDB's answers depend only on the oracle SQL and the fixtures, so they
are cached on disk under a key of both."""
import glob
import hashlib
import os

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True, kind="mergesort")


def compare(got, expected):
    """None when the results agree, else a one-line reason."""
    g, e = _norm(got), _norm(expected)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    fam = lambda k: "i" if k in "iu" else k
    for c in g.columns:
        gk, ek = fam(g[c].dtype.kind), fam(e[c].dtype.kind)
        if gk != ek and {gk, ek} <= {"i", "f", "b"}:
            return f"{c}: dtype {g[c].dtype} != {e[c].dtype}"
    for c in g.columns:
        gv, ev = g[c], e[c]
        try:
            neq = ~((gv == ev) | (gv.isna() & ev.isna()))
        except Exception:
            neq = gv.astype(str) != ev.astype(str)
        if neq.any():
            i = neq.idxmax()
            return f"{c}[{i}]: got={gv[i]!r} want={ev[i]!r} (n={int(neq.sum())})"
    return None


class Oracle:
    def __init__(self, fixtures, cache_dir):
        self.fixtures = fixtures
        self.cache_dir = cache_dir
        h = hashlib.sha256()
        for t in TABLES:
            with open(os.path.join(fixtures, f"{t}.parquet"), "rb") as f:
                h.update(f.read())
        self.fixture_key = h.hexdigest()
        self.con = None

    def expected(self, sql):
        key = hashlib.sha256((self.fixture_key + "\0" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        if self.con is None:
            self.con = duckdb.connect()
            self.con.execute("SET threads TO 2")
            for t in TABLES:
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.fixtures}/{t}.parquet'")
        df = self.con.sql(sql).df()
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        df.to_pickle(tmp)
        os.replace(tmp, path)
        return df

    def check(self, sql, dump_dir):
        """None when the dumped Spark result matches the oracle, else why."""
        try:
            want = self.expected(sql)
        except Exception as e:  # an oracle that cannot run is a failed check
            return f"oracle SQL error: {e}"
        files = sorted(glob.glob(os.path.join(dump_dir, "*.parquet")))
        if not files:
            return "no result parquet"
        got = pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)
        return compare(got, want)

    def close(self):
        if self.con is not None:
            self.con.close()
