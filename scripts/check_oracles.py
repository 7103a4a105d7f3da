"""Local twin of the driver's correctness harness: run every queries()
entry at sf0.01 in Spark AND its oracle_sql() in DuckDB; compare row count,
column names, and order-insensitive values (column-name-sorted, stringified
like the driver's value hash)."""

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

SF = os.environ.get("CHECK_SF", "/root/testdata/sf0.01")
ONLY = sys.argv[1:] if len(sys.argv) > 1 else None


def norm_cell(v):
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    # Decimal is deliberately NOT normalized to int/float: the driver's value
    # hash stringifies DuckDB DECIMAL/HUGEINT results differently from Spark
    # BIGINT/DOUBLE, so an uncast SUM() oracle must FAIL here too (it failed
    # the round-1 driver hash while this script reported green). Oracles must
    # CAST to BIGINT/DOUBLE to match Spark's output type.
    if isinstance(v, decimal.Decimal):
        return f"decimal:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        tuple(norm_cell(r[i]) for i in order) for r in rows
    )
    return out


def main():
    from __spark_entry__ import oracle_sql, queries
    from biomedical_ner_spark.session import get_spark

    spark = get_spark(master="local[16]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events", "lineitem", "orders",
              "customer", "supplier", "part", "region", "nation"):
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    qs = queries()
    oq = oracle_sql()
    results = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF)
            scols = df.columns
            srows = [tuple(r) for r in df.collect()]
        except Exception:
            print(f"[SPARK FAIL] {name}")
            traceback.print_exc()
            results.append((name, "SPARK_FAIL"))
            continue
        t1 = time.time()
        if name not in oq:
            print(f"[rows-only ] {name}: {len(srows)} rows "
                  f"({t1 - t0:.1f}s)")
            results.append((name, "ROWS_ONLY_OK" if len(srows) >= 0 else "?"))
            continue
        try:
            rel = con.sql(oq[name])
            dcols = rel.columns
            dtypes = [str(t) for t in rel.types]
            drows = rel.fetchall()
        except Exception:
            print(f"[DUCK FAIL ] {name}")
            traceback.print_exc()
            results.append((name, "DUCK_FAIL"))
            continue
        status = []
        # HUGEINT/DECIMAL oracle columns stringify differently in the
        # driver's value hash even when the Python values round-trip equal —
        # catch them at the type level (uncast SUM() etc.)
        bad_types = [f"{c}:{t}" for c, t in zip(dcols, dtypes)
                     if "HUGEINT" in t.upper() or "DECIMAL" in t.upper()]
        if bad_types:
            status.append(f"DUCKTYPES {bad_types} (CAST the oracle column)")
        if sorted(scols) != sorted(dcols):
            status.append(f"COLS spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            status.append(f"NROWS spark={len(srows)} duck={len(drows)}")
        if not status:
            a = canon(srows, scols)
            b = canon(drows, dcols)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                only_a = [x for x in a if x not in set(b)][:2]
                only_b = [x for x in b if x not in set(a)][:2]
                status.append(f"VALUES diff={diff} onlyS={only_a} onlyD={only_b}")
        if status:
            print(f"[MISMATCH  ] {name}: {'; '.join(status)}")
            results.append((name, "MISMATCH"))
        else:
            print(f"[OK        ] {name}: {len(srows)} rows ({t1 - t0:.1f}s)")
            results.append((name, "OK"))
    bad = [n for n, s in results if s not in ("OK", "ROWS_ONLY_OK")]
    print(f"\n{len(results)} queries: "
          f"{sum(1 for _, s in results if s == 'OK')} OK, "
          f"{sum(1 for _, s in results if s == 'ROWS_ONLY_OK')} rows-only, "
          f"{len(bad)} BAD {bad}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
