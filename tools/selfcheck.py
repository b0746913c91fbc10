"""Self-check harness replicating the driver's correctness gate locally:
runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet, then compares row count, column names, and
order-insensitive values (exact — the engine claims bit-identical math)
PLUS a driver-hash-faithful representation check: each cell stringified
(str/repr, the way any canonicalizing hasher sees it) and compared, so a
Spark ``Decimal('123')`` vs a DuckDB ``123.0`` is flagged HERE instead of
as a surprise ``hash_match: false`` in the driver's CORRECTNESS gate
(the r11 ``embedding_gram`` failure mode: Python ``==`` says equal,
string forms differ).

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

# the checkout this script lives in, not whatever else is importable
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def values_equal(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return False, f"rows {len(a)} != {len(b)}"
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if isinstance(x, float) or isinstance(y, float):
                if x != y and not (pd.isna(x) and pd.isna(y)):
                    return False, f"{col}[{i}]: {x!r} != {y!r} (float, exact)"
            elif x != y:
                return False, f"{col}[{i}]: {x!r} != {y!r}"
    return True, "ok"


def _cell_str(x) -> str:
    """One cell → the canonical text a stringifying hasher would see.

    Deliberately type-sensitive: ``Decimal('123')`` → '123' but float
    ``123.0`` → '123.0', int ``123`` → '123'. Python ``==`` treats all
    three as equal, so only this check catches representation divergence
    (the driver hashes stringified cells; its r11 ``embedding_gram``
    hash-fail was exactly Spark-Decimal-vs-DuckDB-float with matching
    values). NaN/None both normalize to '<null>'."""
    if x is None:
        return "<null>"
    if isinstance(x, float):
        if pd.isna(x):
            return "<null>"
        return repr(x)
    try:
        if pd.isna(x):
            return "<null>"
    except (TypeError, ValueError):
        pass  # arrays / lists: pd.isna is elementwise
    return str(x)


def repr_equal(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    """Driver-hash-faithful comparison: stringified-cell equality over the
    canonically sorted frames. A pass here predicts ``hash_match: true``
    in the driver's CORRECTNESS gate; a fail with ``values_equal`` green
    means the output REPRESENTATION (dtype/formatting) diverges between
    engines and must be canonicalized (cast to string/bigint/double on
    both sides) before the driver sees it."""
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            sx, sy = _cell_str(x), _cell_str(y)
            if sx != sy:
                return False, f"{col}[{i}] repr: {sx!r} != {sy!r}"
    return True, "ok"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from kaer_spark.session import get_spark

    spark = get_spark(app_name="selfcheck")

    def fresh_con():
        # one connection per query: DuckDB accumulates allocator state over
        # a 170-query session and eventually OOMs on trivial blocks; view
        # re-registration is microseconds
        c = duckdb.connect()
        for t in TABLES:
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return c

    print(f"== entry() smoke on sf0.001 ==")
    t0 = time.time()
    erows = entrymod.entry(spark).collect()
    print(f"entry: {len(erows)} rows in {time.time() - t0:.1f}s (expect >= 0)")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    fails = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = canon(fn(spark, sf_dir).toPandas())
            t_spark = time.time() - t0
            if name not in oracles:
                print(f"  {name:28s} rows={len(sdf):6d}  (no oracle: rows-only) "
                      f"spark={t_spark:.1f}s")
                continue
            t0 = time.time()
            con = fresh_con()
            try:
                ddf = canon(con.sql(oracles[name]).df())
            finally:
                con.close()
            ok, why = values_equal(sdf, ddf)
            if ok:
                ok, why = repr_equal(sdf, ddf)
                if not ok:
                    why = f"values match but driver-hash repr diverges: {why}"
            status = "OK " if ok else "FAIL"
            print(f"  {name:28s} rows={len(sdf):6d}  {status} "
                  f"spark={t_spark:.1f}s duck={time.time() - t0:.1f}s"
                  + ("" if ok else f"  → {why}"))
            if not ok:
                fails.append((name, why))
        except Exception as e:  # noqa: BLE001
            print(f"  {name:28s} ERROR: {type(e).__name__}: {str(e)[:200]}")
            fails.append((name, str(e)[:200]))
    if fails:
        print(f"\n{len(fails)} FAILURES: {[f[0] for f in fails]}")
        return 1
    print("\nall queries match the oracle")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
