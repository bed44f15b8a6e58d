#!/usr/bin/env python3
"""DuckDB oracle check for the batch workloads.

Each registry entry with oracle SQL is compared with DuckDB's answer to
that SQL over the same parquet tables, canonicalized the way
tools/check.py does it: columns sorted by name, rows sorted, timestamps
at microseconds, integers and floats never mixed, values exact. The
canonical form is reduced to a SHA-256 digest, so the comparison is
exact equality of digests.

Several oracles take minutes in DuckDB (q36_onion_layers about a minute
at sf0.001), too long for every run. Their digests are therefore kept in
`oracle_digests.json`, keyed on the SHA-256 of the oracle SQL text, of
the input tables, and the DuckDB version. A run uses a stored digest only
when all three match; otherwise it evaluates the oracle live and keeps the digest in
`<build>/oracle_cache.json`. Refresh the stored digests after an oracle
or input change with

    python3 perfbench/oracle.py <oracle.json manifest> [<data dir>]

where the manifest is the `oracle.json` a batch run writes into its
work directory (PERFBENCH_KEEP_WORK=1 keeps it).
"""
import glob
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
STORED = os.path.join(HERE, "oracle_digests.json")


def canon(df):
    import datetime
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        first = df[c].dropna().iloc[0] if df[c].notna().any() else None
        if df[c].dtype == object and isinstance(first, datetime.date):
            # Spark DATE reads back as datetime.date objects, DuckDB DATE
            # as datetime64: compare both as timestamps
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def digest(df) -> str:
    """Digest of the canonical form: names, dtype kinds and exact values
    (floats by bit pattern, with -0.0 and NaN normalized)."""
    import numpy as np
    df = canon(df)
    h = hashlib.sha256()
    h.update(repr([(c, df[c].dtype.kind) for c in df.columns]).encode())
    h.update(str(len(df)).encode())
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            v = col.to_numpy(dtype="float64", copy=True)
            v[v == 0.0] = 0.0
            v[np.isnan(v)] = np.nan
            h.update(v.tobytes())
        elif col.dtype.kind in "iuM":
            h.update(col.to_numpy().view("int64").tobytes())
        else:
            h.update("\x00".join(col.astype(str)).encode())
    return h.hexdigest()


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def data_key(data_dir: str) -> str:
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class Oracle:
    """Oracle digests: stored, cached, or evaluated live in DuckDB."""

    def __init__(self, data_dir: str, cache_path: str = None):
        self.data_dir = data_dir
        self.data = data_key(data_dir)
        self.cache_path = cache_path
        self.known = {}
        for path in (STORED, cache_path):
            if path and os.path.exists(path):
                with open(path) as fh:
                    self.known.update(json.load(fh))
        self.fresh = {}
        self.con = None

    def expected(self, sql: str) -> str:
        import duckdb
        key = f"{_sha(sql)}:{self.data}:{duckdb.__version__}"
        if key not in self.known:
            if self.con is None:
                self.con = duckdb.connect()
                if self.cache_path:
                    spill = os.path.join(os.path.dirname(self.cache_path), "duckdb_tmp")
                    self.con.execute(f"SET temp_directory = '{spill}'")
                for t in glob.glob(os.path.join(self.data_dir, "*.parquet")):
                    name = os.path.basename(t)[:-len(".parquet")]
                    self.con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
            self.known[key] = self.fresh[key] = digest(self.con.sql(sql).df())
        return self.known[key]

    def save(self, path: str) -> None:
        old = {}
        if os.path.exists(path):
            with open(path) as fh:
                old = json.load(fh)
        old.update(self.fresh)
        with open(path, "w") as fh:
            json.dump(old, fh, indent=1, sort_keys=True)


def check(manifest_path: str, data_dir: str, cache_path: str) -> list:
    """Failure notes for every oracle entry whose result differs."""
    import pandas as pd
    with open(manifest_path) as fh:
        manifest = json.load(fh)
    oracle = Oracle(data_dir, cache_path)
    bad = []
    for name, e in manifest.items():
        if e["sql"] is None or e["rows"] is None:
            continue  # rows-only, or failed in the JVM: counted there
        try:
            files = glob.glob(os.path.join(e["dir"], "*.parquet"))
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            if digest(got) != oracle.expected(e["sql"]):
                bad.append(f"{name}: result differs from its DuckDB oracle")
        except Exception as ex:  # noqa: BLE001 - any failure fails the entry
            bad.append(f"{name}: {ex}")
    if oracle.fresh:
        oracle.save(cache_path)
    return bad


if __name__ == "__main__":
    manifest = json.load(open(sys.argv[1]))
    data = sys.argv[2] if len(sys.argv) > 2 else os.path.join(HERE, "data", "sf0.001")
    o = Oracle(data)
    o.known = {}
    for n, e in sorted(manifest.items()):
        if e["sql"] is not None:
            o.expected(e["sql"])
            print(n, flush=True)
    o.save(STORED)
