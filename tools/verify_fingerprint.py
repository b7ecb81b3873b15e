"""Cross-engine AGGREGATE-FINGERPRINT compare: strict multiset-level
verification of giant-output queries without collecting the output.

The strict gate (tools/verify_local.py) collects both engines' full
result and diffs canonicalized rows — at sf10 that measures result
canonicalization, not engine work, for raw-dump queries (34M-row scans,
10M-row as-of joins, 50M token rows). This tool closes that gap the A19
way (re-verification as a first-class query): BOTH engines reduce the
SAME result relation to a tiny per-column fingerprint row, and the
fingerprints must match EXACTLY.

Per column, by type:
  - integers            -> COUNT(col), SUM(col)               (exact)
  - doubles/decimals    -> COUNT, SUM(CAST(FLOOR(col*100+0.5) AS BIGINT))
                           + NaN/Inf tallies (quantized half-up cents —
                           exact BIGINT arithmetic in both engines)
  - booleans            -> COUNT, SUM(CAST(col AS INT))
  - strings             -> COUNT, SUM(first-28-bits-of-md5) + SUM(LENGTH)
                           (the repo's portable md5-prefix integer, the
                           minhash trick — an order-insensitive content
                           checksum both engines compute identically)
  - timestamps          -> COUNT, SUM(epoch micros)
  - dates               -> COUNT, SUM(days since epoch)
plus the total row count. A multiset difference in ANY column flips at
least one SUM with overwhelming probability (md5 collisions aside), so
this is value-level verification at aggregate cost — the form that
stays feasible at any scale.

Usage: python tools/verify_fingerprint.py [sf_dir] [query ...]
       (default queries: the raw-dump sf10 exclusions)
"""

from __future__ import annotations

import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyspark.sql.functions as F  # noqa: E402

# the raw-dump queries excluded from the strict sf10 sweep for
# collect+canon cost — each gets full fingerprint verification here
DEFAULT_QUERIES = [
    "scan_parquet",
    "scan_text_corpus",
    "scan_binary_records",
    "scan_thrift_records",
    "join_asof",
    "join_asof_tolerance",
    "join_asof_nearest",
    "join_outer",
    "join_outer_full",
    "ws_tokenize",
    "math_funcs",
    "udf_scalar",
]

MD5_SPARK = "sum(conv(substring(md5({c}), 1, 7), 16, 10))"
MD5_DUCK = "SUM(CAST(CONCAT('0x', SUBSTR(MD5({c}), 1, 7)) AS BIGINT))"


def _aggs_for(col: str, dtype: str) -> list[tuple[str, str, str]]:
    """[(fingerprint key, spark SQL agg, duckdb SQL agg)] for one column."""
    c = f"`{col}`"
    d = f'"{col}"'
    base = dtype.split("(")[0]
    out = [(f"{col}.n", f"count({c})", f"COUNT({d})")]
    if base in ("bigint", "int", "smallint", "tinyint", "long", "integer"):
        out.append((f"{col}.sum", f"sum({c})", f"SUM({d})"))
    elif base in ("double", "float", "decimal"):
        out.append(
            (
                f"{col}.cents",
                f"sum(case when isnan(cast({c} as double)) "
                f"or abs(cast({c} as double)) = double('inf') then null "
                f"else cast(floor({c} * 100 + 0.5) as bigint) end)",
                f"SUM(CASE WHEN ISNAN(CAST({d} AS DOUBLE)) "
                f"OR ISINF(CAST({d} AS DOUBLE)) THEN NULL "
                f"ELSE CAST(FLOOR({d} * 100 + 0.5) AS BIGINT) END)",
            )
        )
        out.append(
            (
                f"{col}.nonfinite",
                f"count(case when isnan(cast({c} as double)) "
                f"or abs(cast({c} as double)) = double('inf') then 1 end)",
                f"COUNT(CASE WHEN ISNAN(CAST({d} AS DOUBLE)) "
                f"OR ISINF(CAST({d} AS DOUBLE)) THEN 1 END)",
            )
        )
    elif base == "boolean":
        out.append(
            (
                f"{col}.true",
                f"sum(cast({c} as int))",
                f"SUM(CAST({d} AS INT))",
            )
        )
    elif base in ("string", "varchar"):
        out.append((f"{col}.md5", MD5_SPARK.format(c=c), MD5_DUCK.format(c=d)))
        out.append((f"{col}.len", f"sum(length({c}))", f"SUM(LENGTH({d}))"))
    elif base in ("timestamp", "timestamp_ntz"):
        # epoch micros summed directly overflow BIGINT past ~5k rows
        # (1.7e15 each); split into whole-second and micro-fraction sums
        out.append(
            (
                f"{col}.sec",
                f"sum(unix_micros(cast({c} as timestamp)) div 1000000)",
                f"SUM(epoch_us(CAST({d} AS TIMESTAMP)) // 1000000)",
            )
        )
        out.append(
            (
                f"{col}.usfrac",
                f"sum(pmod(unix_micros(cast({c} as timestamp)), 1000000))",
                f"SUM(epoch_us(CAST({d} AS TIMESTAMP)) % 1000000)",
            )
        )
    elif base == "date":
        out.append(
            (
                f"{col}.days",
                f"sum(datediff({c}, date'1970-01-01'))",
                f"SUM({d} - DATE '1970-01-01')",
            )
        )
    else:
        raise TypeError(f"no fingerprint rule for column {col}: {dtype}")
    return out


def fingerprints(sdf, con, oracle_sql: str) -> tuple[dict, dict]:
    keys: list[str] = ["_rows"]
    s_exprs = ["count(*)"]
    d_exprs = ["COUNT(*)"]
    for col, dtype in sdf.dtypes:
        for key, s_agg, d_agg in _aggs_for(col, dtype):
            keys.append(key)
            s_exprs.append(s_agg)
            d_exprs.append(d_agg)
    srow = sdf.selectExpr(*s_exprs).first()
    drow = con.execute(
        "SELECT " + ", ".join(d_exprs) + f" FROM ({oracle_sql}) fp_q"
    ).fetchone()
    to_int = lambda v: int(v) if v is not None else None  # noqa: E731
    return (
        dict(zip(keys, (to_int(v) for v in srow))),
        dict(zip(keys, (to_int(v) for v in drow))),
    )


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from curatorhadoopinterface_spark.session import get_spark

    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1 and "/" in sys.argv[1]
        else "/root/testdata/sf0.01"
    )
    only = [a for a in sys.argv[1:] if "/" not in a] or DEFAULT_QUERIES

    spark = get_spark("verify-fingerprint")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name in only:
        t0 = time.time()
        try:
            sfp, dfp = fingerprints(qs[name](spark, sf_dir), con, oracles[name])
        except Exception:
            print(f"[FAIL] {name}: raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        bad = {k: (sfp[k], dfp.get(k)) for k in sfp if sfp[k] != dfp.get(k)}
        if bad:
            print(f"[FAIL] {name}: fingerprint mismatch {bad}")
            n_fail += 1
        else:
            print(
                f"[PASS] {name} fingerprint "
                f"({sfp['_rows']} rows, {len(sfp)} aggregates, "
                f"{time.time()-t0:.1f}s)"
            )
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail (aggregate-fingerprint)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
