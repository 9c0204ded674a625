"""Local differential checker — mimics the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and (when an oracle exists) the
matching ``oracle_sql()`` on DuckDB over the same parquet tables, then
compares row count, sorted column names, and an order-insensitive value hash.

Usage:  python tools/check.py [sf_dir] [name_filter ...]
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, decimal.Decimal):
        # deliberately distinct from the int/float buckets: a DuckDB
        # HUGEINT/DECIMAL arriving where Spark returns BIGINT must FAIL here,
        # exactly as it does in the driver's Arrow-based hash
        return f"d:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v!r}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, bytes):
        return f"x:{v.hex()}"
    return f"s:{v}"


def value_hash(rows: list[dict]) -> str:
    # order-insensitive: hash each row (sorted by column name), sort row
    # digests, hash the concatenation
    row_digests = sorted(
        hashlib.sha256(
            "|".join(f"{k}={_norm_cell(v)}" for k, v in sorted(r.items())).encode()
        ).hexdigest()
        for r in rows
    )
    return hashlib.sha256("".join(row_digests).encode()).hexdigest()


def spark_decimal_cols(df) -> list[str]:
    """Columns whose (possibly nested) type contains DecimalType.

    DECIMAL-typed OUTPUT columns hash-fail at the driver even when values
    are bit-identical locally (VERDICT r6 "What's wrong #1" — 9-for-9 over
    six rounds: r3 q67/q68/q70, r5+r6 q147/q150/q158/q161/q162). Exact
    witnesses must leave the projection as plain-digit strings; this check
    makes the local gate predict the driver.
    """
    from pyspark.sql import types as T

    def has_dec(dt) -> bool:
        if isinstance(dt, T.DecimalType):
            return True
        if isinstance(dt, T.ArrayType):
            return has_dec(dt.elementType)
        if isinstance(dt, T.MapType):
            return has_dec(dt.keyType) or has_dec(dt.valueType)
        if isinstance(dt, T.StructType):
            return any(has_dec(f.dataType) for f in dt.fields)
        return False

    return [f.name for f in df.schema.fields if has_dec(f.dataType)]


def arrow_decimal_cols(tbl) -> list[str]:
    """Arrow columns with decimal128/decimal256 type (DuckDB DECIMAL/HUGEINT)."""
    import pyarrow as pa

    def has_dec(t) -> bool:
        if pa.types.is_decimal(t):
            return True
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return has_dec(t.value_type)
        if pa.types.is_struct(t):
            return any(has_dec(f.type) for f in t)
        if pa.types.is_map(t):
            return has_dec(t.key_type) or has_dec(t.item_type)
        return False

    return [f.name for f in tbl.schema if has_dec(f.type)]


def spark_rows(df) -> list[dict]:
    cols = df.columns
    return [dict(zip(cols, row)) for row in df.collect()]


def duck_rows(con, sql: str) -> tuple[list[dict], list[str]]:
    # Fetch through Arrow, not fetchall(): the driver's hash materializes the
    # oracle via Arrow, where DuckDB's HUGEINT (bare sum(INTEGER)) arrives as
    # decimal128 → Python Decimal.  fetchall() would coerce it to int and hide
    # the typing divergence that broke q67/q68/q70 in round 3.
    tbl = con.execute(sql).fetch_arrow_table()
    return tbl.to_pylist(), arrow_decimal_cols(tbl)


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--bare"]
    bare = "--bare" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    name_filter = argv[1:]

    import duckdb

    import __spark_entry__ as e

    if bare:
        # replicate the driver harness: a vanilla session with none of our
        # builder confs — load_tables must self-configure at runtime
        import os

        from pyspark.sql import SparkSession

        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        spark = (
            SparkSession.builder.master(f"local[{cpus}]")
            .config("spark.sql.shuffle.partitions", cpus)
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from leaf_spark.session import get_spark

        spark = get_spark("leaf-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create or replace view {t} as select * from '{sf_dir}/{t}.parquet'"
        )

    qs = e.queries()
    oracles = e.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name in sorted(qs):
        if name_filter and not any(f in name for f in name_filter):
            continue
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            dec_cols = spark_decimal_cols(df)
            srows = spark_rows(df)
        except Exception:
            print(f"FAIL {name}: SPARK ERROR")
            traceback.print_exc(limit=3)
            n_fail += 1
            failures.append(name)
            continue
        if dec_cols:
            # hard fail BEFORE any value compare: decimal outputs hash-fail
            # at the driver even when locally bit-identical (VERDICT r6 #1)
            print(f"FAIL {name}: DECIMAL OUTPUT (spark) {dec_cols}")
            n_fail += 1
            failures.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, {dt:.1f}s)")
            n_rows_only += 1
            continue
        try:
            orows, o_dec_cols = duck_rows(con, oracles[name])
        except Exception as ex:
            print(f"FAIL {name}: ORACLE ERROR {ex}")
            n_fail += 1
            failures.append(name)
            continue
        if o_dec_cols:
            # oracle-side-only decimals broke q67/q68/q70 in round 3
            print(f"FAIL {name}: DECIMAL OUTPUT (oracle) {o_dec_cols}")
            n_fail += 1
            failures.append(name)
            continue
        scols, ocols = sorted(srows[0]) if srows else [], sorted(orows[0]) if orows else []
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(orows)}")
            n_fail += 1
            failures.append(name)
            continue
        if srows and scols != ocols:
            print(f"FAIL {name}: columns spark={scols} duck={ocols}")
            n_fail += 1
            failures.append(name)
            continue
        sh, oh = value_hash(srows), value_hash(orows)
        if sh != oh:
            print(f"FAIL {name}: value hash mismatch ({len(srows)} rows)")
            # show first differing row for debugging
            skeys = {
                hashlib.sha256(
                    "|".join(f"{k}={_norm_cell(v)}" for k, v in sorted(r.items())).encode()
                ).hexdigest(): r
                for r in srows
            }
            okeys = {
                hashlib.sha256(
                    "|".join(f"{k}={_norm_cell(v)}" for k, v in sorted(r.items())).encode()
                ).hexdigest(): r
                for r in orows
            }
            only_s = [skeys[k] for k in skeys if k not in okeys][:2]
            only_o = [okeys[k] for k in okeys if k not in skeys][:2]
            for r in only_s:
                print(f"  spark-only: {r}")
            for r in only_o:
                print(f"  duck-only:  {r}")
            n_fail += 1
            failures.append(name)
            continue
        print(f"PASS {name} ({len(srows)} rows, {dt:.1f}s)")
        n_pass += 1

    print(
        f"\n== {n_pass} pass, {n_rows_only} rows-only, {n_fail} fail"
        + (f" → {failures}" if failures else "")
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
