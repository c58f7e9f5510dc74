"""Local emulation of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet
tables, compare row counts, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def compare(name, spark_df, duck_df) -> list[str]:
    problems = []
    try:
        import pyarrow as pa
    except ImportError:  # pragma: no cover - pyarrow is baked in
        pa = None
    # The DuckDB side may arrive as a pyarrow Table (the real callers
    # since round 11 — fetch_arrow_table preserves VALIDITY separately
    # from NaN, which the float-column null-mask check below needs) or
    # as a plain pandas frame (legacy/fake callers: masks degrade to
    # isna, conflating NULL with NaN exactly as before).
    duck_at = None
    if pa is not None and isinstance(duck_df, pa.Table):
        duck_at = duck_df
        duck_df = duck_at.to_pandas()
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_df.columns)
    if s_cols != d_cols:
        return [f"columns differ: spark={s_cols} duck={d_cols}"]
    import pandas as pd

    # NaN→NULL canonicalization applies only where NaN cannot be a genuine
    # value: columns whose SPARK type is non-float (e.g. a nullable
    # BOOLEAN like q_text_normalize's `changed`, which DuckDB's df()
    # renders as object with NaN for NULL). A float-typed column keeps its
    # NaNs distinct from None (ADVICE r9).
    from pyspark.sql import types as T

    spark_schema = getattr(spark_df, "schema", None)  # harness fakes may omit it
    float_typed = (
        {
            f.name
            for f in spark_schema.fields
            if isinstance(f.dataType, (T.FloatType, T.DoubleType))
        }
        if spark_schema is not None
        else set()
    )
    # Materialize the Spark side through Arrow when a float column is
    # present (ADVICE r10): in a float64 pandas column BOTH SQL NULL and
    # a genuine NaN render as NaN, so np.allclose(equal_nan=True) would
    # silently equate a Spark NaN with a DuckDB NULL — the exact
    # propagated-NaN divergence class the non-finite audit targets.
    # Arrow keeps the validity bitmap separate from the values, so each
    # float column gets a boolean null-mask AUX COLUMN that rides the
    # row sort and is compared exactly. One job either way (toArrow and
    # toPandas both collect once); fakes without toArrow degrade to
    # isna masks (NULL≡NaN), same as the legacy pandas duck path.
    spark_at = None
    if pa is not None and float_typed and hasattr(spark_df, "toArrow"):
        spark_at = spark_df.toArrow()
        sp = spark_at.to_pandas()[s_cols].copy()
    else:
        sp = spark_df.toPandas()[s_cols].copy()
    dp = duck_df[s_cols].copy()
    if len(sp) != len(dp):
        problems.append(f"row count differs: spark={len(sp)} duck={len(dp)}")
        return problems
    aux_cols = []
    for c in sorted(float_typed & set(s_cols)):
        aux = c + "\x00isnull"
        sp[aux] = (
            spark_at.column(c).is_null().to_pandas().to_numpy()
            if spark_at is not None
            else sp[c].isna().to_numpy()
        )
        dp[aux] = (
            duck_at.column(c).is_null().to_pandas().to_numpy()
            if duck_at is not None
            else dp[c].isna().to_numpy()
        )
        aux_cols.append(aux)

    def canon(df):
        df = df.copy()
        for c in df.columns:
            if df[c].dtype == object:
                # SQL NULL arrives as None from Spark's toPandas but as
                # float NaN from DuckDB's df() in object columns;
                # astype(str) would split them into 'None' vs 'nan'.
                # Canonicalize to a non-string sentinel — the (0,""),
                # (1,str) tuple encoding sorts and compares cleanly and
                # cannot collide with a literal string value (a real
                # "<NULL>" string maps to (1,"<NULL>"), ADVICE r9). Only
                # visible on NULL-bearing AUDIT corpora (gate corpora
                # carry no NULLs, so this changes nothing the driver's
                # own hash would see).
                nan_is_null = c not in float_typed
                df[c] = df[c].map(
                    lambda v, _n=nan_is_null: (0, "")
                    if v is None or (_n and isinstance(v, float) and v != v)
                    else (1, str(v))
                )
        return df.sort_values(by=list(df.columns), ignore_index=True)

    sp, dp = canon(sp), canon(dp)
    for aux in aux_cols:
        if not sp[aux].equals(dp[aux]):
            n_bad = int((sp[aux] != dp[aux]).sum())
            problems.append(
                f"column {aux.split(chr(0))[0]}: {n_bad} NULL-vs-NaN "
                "mismatches (one engine has SQL NULL where the other has "
                "a genuine NaN value)"
            )
    for c in s_cols:
        a, b = sp[c], dp[c]
        # driver-faithful: its exact value-hash sees int64 376 vs float64
        # 376.0 as different (the DuckDB HUGEINT-sum artifact), so a
        # dtype-KIND mismatch is a hard FAIL before any tolerance compare
        if (a.dtype.kind in "iu") != (b.dtype.kind in "iu"):
            problems.append(
                f"column {c}: dtype kind mismatch spark={a.dtype} duck={b.dtype}"
                " (driver hash would fail: int vs float)"
            )
            continue
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            import numpy as np

            if not np.allclose(a.astype(float), b.astype(float), rtol=0, atol=1e-9, equal_nan=True):
                bad = (~np.isclose(a.astype(float), b.astype(float), rtol=0, atol=1e-9, equal_nan=True)).sum()
                problems.append(f"column {c}: {bad} float mismatches, e.g. spark={a.iloc[0]} duck={b.iloc[0]}")
        else:
            if not a.astype(str).equals(b.astype(str)):
                neq = (a.astype(str) != b.astype(str))
                i = neq.idxmax()
                problems.append(
                    f"column {c}: {neq.sum()} mismatches, first at row {i}: spark={a[i]} duck={b[i]}"
                )
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod

    # vanilla session on purpose: emulates the driver, which does NOT apply
    # our tuned confs — the engine must self-configure via its choke points
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            if name not in osql:
                n = sdf.count()
                print(f"[rows-only] {name}: {n} rows ({time.time()-t0:.1f}s)")
                continue
            # fetch_arrow_table, not fetchdf: Arrow keeps the validity
            # bitmap separate from float NaN values, which compare()
            # needs for the per-float-column null-mask check (ADVICE r10)
            ddf = con.execute(osql[name]).fetch_arrow_table()
            problems = compare(name, sdf, ddf)
        except Exception as e:
            import traceback

            traceback.print_exc()
            problems = [f"EXCEPTION {type(e).__name__}: {e}"]
        status = "OK" if not problems else "FAIL"
        if problems:
            failures += 1
        print(f"[{status}] {name} ({time.time()-t0:.1f}s)" + "".join(f"\n    - {p}" for p in problems))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
