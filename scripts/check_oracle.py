"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, schema
arity, order-insensitive values (columns sorted by name), AND result types.

The type check is deliberately stricter than pure value equality because the
driver's hash is type-aware (it goes through Arrow/pandas, where a DuckDB
HUGEINT or DECIMAL column materializes differently from a Spark bigint even
when every value is identical — exactly how q49 went driver-red in round 4
while passing the old value-only harness). Rules enforced here:

  * a DuckDB final projection containing HUGEINT/UHUGEINT/UBIGINT/DECIMAL
    is an immediate FAIL — wrap the offending aggregate in
    ``CAST(... AS BIGINT)`` (or DOUBLE) in the oracle SQL;
  * a Spark final projection containing decimal is an immediate FAIL —
    cast to double/long in the query;
  * Spark/DuckDB column type pairs must agree by class: integer↔integer,
    float↔float, string↔string, bool↔bool, date↔date, ts↔ts. int32 vs
    int64 within the integer class is fine (identical Python/Arrow value),
    but int↔double across engines is a FAIL even when values compare equal;
  * integer cells are no longer coerced to float before comparison.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from baskerville_spark.session import get_session  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# DuckDB result types that must never appear in a final projection: the
# driver's Arrow-side hash cannot represent them as int64/float64.
BANNED_DUCK = ("HUGEINT", "UHUGEINT", "UBIGINT", "DECIMAL")

_INT_SPARK = {"tinyint", "smallint", "int", "bigint"}
_INT_DUCK = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER"}
_FLOAT_SPARK = {"float", "double"}
_FLOAT_DUCK = {"FLOAT", "DOUBLE"}


def _spark_class(dt: str) -> str:
    dt = dt.lower()
    if dt in _INT_SPARK:
        return "int"
    if dt in _FLOAT_SPARK:
        return "float"
    if dt.startswith("decimal"):
        return "decimal"
    if dt == "string":
        return "str"
    if dt == "boolean":
        return "bool"
    if dt == "date":
        return "date"
    if dt.startswith("timestamp"):
        return "ts"
    return "other"  # array/map/struct/binary — value-compared as strings


def _duck_class(dt: str) -> str:
    dt = dt.upper()
    if any(dt.startswith(b) for b in BANNED_DUCK):
        return "banned"
    if dt in _INT_DUCK:
        return "int"
    if dt in _FLOAT_DUCK:
        return "float"
    if dt in ("VARCHAR", "STRING"):
        return "str"
    if dt == "BOOLEAN":
        return "bool"
    if dt == "DATE":
        return "date"
    if dt.startswith("TIMESTAMP"):
        return "ts"
    return "other"


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, int):
        return v  # type-exact: never coerced to float (driver parity)
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def type_check(name, scols, sdtypes, ocols, otypes):
    """Return a list of human-readable type violations (empty = clean)."""
    errs = []
    sd = dict(sdtypes)
    od = dict(zip(ocols, otypes))
    for c in scols:
        sc = _spark_class(sd.get(c, "other"))
        if sc == "decimal":
            errs.append(f"spark col {c!r} is {sd[c]} — cast to double/long")
    for c in ocols:
        oc = _duck_class(od.get(c, "other"))
        if oc == "banned":
            errs.append(
                f"oracle col {c!r} is {od[c]} — wrap in CAST(... AS BIGINT)"
            )
    for c in scols:
        if c not in od:
            continue
        sc, oc = _spark_class(sd.get(c, "other")), _duck_class(od[c])
        if "banned" in (sc, oc) or "decimal" in (sc, oc):
            continue  # already reported above
        if "other" in (sc, oc):
            continue  # complex types: value comparison only
        if sc != oc:
            errs.append(
                f"col {c!r}: spark {sd.get(c)} ({sc}) vs oracle {od[c]} ({oc})"
            )
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_session("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = sorted(only - set(qs))
    for name in failures:
        print(f"FAIL  {name}: no such query")
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            print(f"FAIL  {name}: no oracle in oracle_sql()")
            failures.append(name)
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            sdtypes = sdf.dtypes
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        el = time.time() - t0
        try:
            res = con.sql(oracles[name])
            ocols = list(res.columns)
            otypes = [str(t) for t in res.types]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        terrs = type_check(name, scols, sdtypes, ocols, otypes)
        if terrs:
            print(f"FAIL  {name}: type violations:")
            for e in terrs:
                print(f"        {e}")
            failures.append(name)
            continue
        sc, sr = norm_rows(scols, srows)
        oc, orw = norm_rows(ocols, orows)
        if sc != oc:
            print(f"FAIL  {name}: columns differ spark={sc} oracle={oc}")
            failures.append(name)
            continue
        if len(sr) != len(orw):
            print(f"FAIL  {name}: row count spark={len(sr)} oracle={len(orw)}")
            failures.append(name)
            continue
        bad = [(a, b) for a, b in zip(sr, orw) if a != b]
        if bad:
            print(f"FAIL  {name}: {len(bad)}/{len(sr)} rows differ; first: \n  S={bad[0][0]}\n  O={bad[0][1]}\n  cols={sc}")
            failures.append(name)
        else:
            tys = ",".join(f"{c}:{t}" for c, t in zip(ocols, otypes))
            print(f"PASS  {name}: {len(sr)} rows, {el:.1f}s  [{tys}]")
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    sys.exit(main())
