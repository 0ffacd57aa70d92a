"""Simulate the driver's verify loop against __spark_entry__.py.

Usage: python scripts/driver_sim.py [--sf-dir /root/testdata/sf0.01] [query ...]

Imports __spark_entry__ exactly as the driver does, runs entry() as a smoke
check at sf0.001, then for every queries() key runs the Spark query and the
DuckDB oracle side-by-side and compares row count + column names +
order-insensitive value multiset. Exit code 0 iff everything matches.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
from datetime import datetime
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


class NonScalarCell(Exception):
    """An Array/Map/Struct cell reached an oracle-compared output.

    The REAL driver harness pandas-sorts the result frame and dies with
    `TypeError: unhashable type: numpy.ndarray` on such cells (the round-4
    `text_fingerprint` ERR). The sim used to tuple-ize them — masking
    exactly the failure class it exists to catch — so now it refuses:
    oracle-compared schemas must be scalar-only (the agg_collect rule,
    operators/aggregates.py)."""


def norm_cell(v):
    # Type-strict on int-vs-float: the driver's value hash distinguishes
    # int64 from float64, so 1234 vs 1234.0 must fail here too (the round-2
    # text_lang_stats HUGEINT trap). Floats are tagged ("f", value) so they
    # never compare equal to ints.
    if v is None:
        return None
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, datetime):
        return v
    if isinstance(v, (np.ndarray, list, tuple, dict)):
        raise NonScalarCell(
            f"non-scalar cell of type {type(v).__name__}: the driver harness "
            "would ERR (unhashable in pandas sort) — emit array_join/exploded "
            "scalars instead"
        )
    if hasattr(v, "item"):
        return norm_cell(v.item())
    return v


def canon(df: pd.DataFrame):
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(v) for v in r) for r in df[cols].itertuples(index=False)]
    rows.sort(key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))
    return cols, rows


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per corpus table under ``sf_dir``,
    read the way the engine reads it."""
    from ai_dataingestion_spark.registry import SCHEMAS

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            # Directory tables (layout/drift tiers, Spark-written scale-up
            # corpora) may carry schema DRIFT across part files: the engine
            # reads them with the declared schema (registry.load_table),
            # which widens narrowed types, NULL-fills file-missing columns
            # and prunes file-extra ones. union_by_name is DuckDB's
            # equivalent read posture; projecting the declared column list
            # mirrors the pruning (SELECT * would leak drift-added columns
            # into the oracle views).
            cols = ", ".join(f.name for f in SCHEMAS[t].fields)
            con.execute(
                f"CREATE VIEW {t} AS SELECT {cols} FROM read_parquet("
                f"'{path}/*.parquet', union_by_name=true)"
            )
        else:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def corpus_fingerprint(sf_dir: str) -> dict:
    """Physical schema + row count per table, straight from the parquet
    footers. Recorded at sweep start and diffed against the committed
    record so a silent driver-side corpus regeneration (the round-3
    ns→µs switch that broke 17 queries) is reported as ONE loud
    'corpus changed' line instead of a pile of mystery mismatches."""
    import pyarrow.parquet as pq

    import glob as _glob
    import os as _os

    fp = {}
    for t in TABLES:
        path = f"{sf_dir.rstrip('/')}/{t}.parquet"
        # Spark-written tables are DIRECTORIES of part files (the sfx1.0
        # scale-up scratch corpus); single-file tables come from the driver
        parts = (
            sorted(_glob.glob(_os.path.join(path, "*.parquet")))
            if _os.path.isdir(path)
            else [path]
        )
        rows, schema = 0, {}
        for p in parts:
            f = pq.ParquetFile(p)
            rows += f.metadata.num_rows
            schema = {fld.name: str(fld.type) for fld in f.schema_arrow}
        fp[t] = {"rows": rows, "schema": schema}
    return fp


def check_corpus_fingerprint(sf_dir: str, full_sweep: bool) -> None:
    import json

    record_path = REPO / "scripts" / "corpus_fingerprint.json"
    # normalize: '/dir/' and '/dir' must hit the same record, or a
    # trailing slash silently skips the diff and re-baselines
    key = sf_dir.rstrip("/")
    current = corpus_fingerprint(key)
    previous = {}
    if record_path.exists():
        previous = json.loads(record_path.read_text())
    prev_sf = previous.get(key)
    changed = prev_sf is not None and prev_sf != current
    if prev_sf is None:
        print(f"[corpus] no fingerprint on record for {key}; recording")
    elif changed:
        print(f"[corpus] *** CORPUS CHANGED at {key} since last record ***")
        for t in TABLES:
            if prev_sf.get(t) != current.get(t):
                print(f"[corpus]   {t}: was {prev_sf.get(t)}")
                print(f"[corpus]   {t}: now {current.get(t)}")
        # preserve the superseded evidence as an append-only list: a second
        # regeneration must not overwrite the trace of the first, and a
        # crash or scrolled-away log must not leave run 2 reporting
        # 'unchanged' with no record that a regeneration ever happened
        trail = previous.setdefault(f"{key}@superseded", [])
        if not isinstance(trail, list):  # migrate the old single-slot shape
            trail = previous[f"{key}@superseded"] = [trail]
        trail.append(prev_sf)
    else:
        print(f"[corpus] fingerprint unchanged for {key}")
    # only full sweeps rewrite the committed record: a query-subset run is a
    # debugging probe and must not re-baseline the evidence — except that a
    # detected regeneration is always recorded, or the next full sweep would
    # silently report 'unchanged' against the new corpus
    if full_sweep or changed or prev_sf is None:
        previous[key] = current
        record_path.write_text(
            json.dumps(previous, indent=1, sort_keys=True) + "\n"
        )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*", help="subset of query ids (default: all)")
    args = ap.parse_args()

    check_corpus_fingerprint(args.sf_dir, full_sweep=not args.queries)

    # Opcache strict mode ON in this harness (VERDICT-r9 item 8 decision):
    # driver_sim is the pipelining-contract harness of record, so the
    # sequential consume-then-release discipline is asserted continuously —
    # every operator's tracked caches must be mark_consumed() before the
    # next operator's release, or the sweep fails loudly.
    os.environ.setdefault("SPARK_GRAFT_OPCACHE_STRICT", "1")

    import __spark_entry__ as mod
    from ai_dataingestion_spark import opcache
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("driver-sim")
    )
    # Scale probes (--sf-dir at sfx1.0/sfx10) outgrow the bare-session 1g
    # JVM default; honor the bench-parity env var WITHOUT changing the
    # default harness-of-record session (driver.memory is start-time-only).
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        builder = builder.config(
            "spark.driver.memory", os.environ["SPARK_GRAFT_DRIVER_MEM"]
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    entry_rows = mod.entry(spark).collect()
    opcache.mark_consumed()
    print(f"[smoke] entry() -> {len(entry_rows)} rows in {time.time()-t0:.1f}s "
          f"({'OK' if len(entry_rows) > 0 else 'FAIL: 0 rows'})")

    qs = mod.queries()
    oracles = mod.oracle_sql()
    ids = args.queries or sorted(qs)

    con = duckdb_connect(args.sf_dir)

    n_ok = n_fail = n_rows_only = 0
    for qid in ids:
        t0 = time.time()
        try:
            sp = qs[qid](spark, args.sf_dir).toPandas()
        except Exception as e:
            print(f"[FAIL] {qid}: spark raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        finally:
            # strict-mode contract: this harness consumed (or abandoned via
            # catalog's error path) everything the operator cached
            opcache.mark_consumed()
        if qid not in oracles:
            print(f"[rows] {qid}: {len(sp)} rows (no oracle) {time.time()-t0:.1f}s")
            n_rows_only += 1
            continue
        try:
            dd = con.execute(oracles[qid]).fetchdf()
        except Exception as e:
            print(f"[FAIL] {qid}: duckdb raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        try:
            sc, sr = canon(sp)
            dc, dr = canon(dd)
        except NonScalarCell as e:
            print(f"[FAIL] {qid}: {e}")
            n_fail += 1
            continue
        if sc != dc:
            print(f"[FAIL] {qid}: cols spark={sc} oracle={dc}")
            n_fail += 1
        elif len(sr) != len(dr):
            print(f"[FAIL] {qid}: rows spark={len(sr)} oracle={len(dr)}")
            n_fail += 1
        else:
            bad = next((i for i, (a, b) in enumerate(zip(sr, dr)) if a != b), None)
            if bad is None:
                print(f"[ OK ] {qid}: {len(sr)} rows match {time.time()-t0:.1f}s")
                n_ok += 1
            else:
                print(f"[FAIL] {qid}: value mismatch row {bad}:\n"
                      f"  spark : {sr[bad]}\n  oracle: {dr[bad]}")
                n_fail += 1

    print(f"\n{n_ok} ok, {n_rows_only} rows-only, {n_fail} fail, "
          f"smoke={'ok' if entry_rows else 'FAIL'}")
    return 0 if (n_fail == 0 and entry_rows) else 1


if __name__ == "__main__":
    sys.exit(main())
