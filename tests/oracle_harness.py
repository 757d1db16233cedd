"""Local replica of the driver's DuckDB-oracle comparison.

Runs a registered query on Spark and its oracle SQL on DuckDB over the
same parquet tables, canonicalizes both results (columns sorted by name,
rows sorted by all columns, floats compared exactly), and reports any
divergence.  Catching a mismatch here at sf0.001 is much cheaper than
failing the driver's gate at sf0.01.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

from maxscale_cdc_spark.tables import TABLE_NAMES


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con.execute(sql).df()


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    out = out[sorted(out.columns)]
    for col in out.columns:
        s = out[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            out[col] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            out[col] = s.map(_canon_obj)
        elif pd.api.types.is_bool_dtype(s):
            out[col] = s.astype(bool)
        elif pd.api.types.is_integer_dtype(s):
            out[col] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            out[col] = s.astype("float64")
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(
        drop=True
    )
    return out


def _canon_obj(v):
    import datetime

    if v is None:
        return None
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_obj(x) for x in v)
    if isinstance(v, float):
        return v
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, (np.integer,)):
        return int(v)
    return v


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of divergence descriptions (empty = match)."""
    problems: list[str] = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        problems.append(f"columns: spark={s_cols} oracle={o_cols}")
        return problems
    if problems:
        return problems
    # Fail on int-dtype-vs-float-dtype column pairs BEFORE value
    # comparison: the driver's value-hash distinguishes bigint 1 from
    # float64 1.0 but Python `==` does not, so an oracle whose integer
    # export decays to float (e.g. a DuckDB HUGEINT sum() .df()'d to
    # float64) passes locally and fails the driver — exactly how
    # llm_cross_doc_overlap stayed red for two rounds (VERDICT r4 §2).
    for col in s_cols:
        sd, od = spark_pdf[col], oracle_pdf[col]
        s_int = pd.api.types.is_integer_dtype(sd)
        o_int = pd.api.types.is_integer_dtype(od)
        s_flt = pd.api.types.is_float_dtype(sd)
        o_flt = pd.api.types.is_float_dtype(od)
        if (s_int and o_flt) or (s_flt and o_int):
            problems.append(
                f"column {col}: dtype family mismatch spark={sd.dtype} "
                f"oracle={od.dtype} (int vs float — driver hash will differ; "
                f"CAST the oracle export or align the Spark type)"
            )
    if problems:
        return problems
    s = canonicalize(spark_pdf)
    o = canonicalize(oracle_pdf)
    for col in s.columns:
        sv, ov = s[col], o[col]
        if pd.api.types.is_float_dtype(sv) and pd.api.types.is_float_dtype(ov):
            a, b = sv.to_numpy(), ov.to_numpy()
            both_nan = np.isnan(a) & np.isnan(b)
            eq = (a == b) | both_nan
            if not eq.all():
                bad = np.flatnonzero(~eq)[:5]
                diffs = [
                    f"row{i}: {a[i]!r} vs {b[i]!r} (Δ={abs(a[i]-b[i]) if not (math.isnan(a[i]) or math.isnan(b[i])) else 'nan'})"
                    for i in bad
                ]
                problems.append(f"column {col}: {len(np.flatnonzero(~eq))} diffs; " + "; ".join(diffs))
        else:
            sv2 = sv.where(pd.notna(sv), None)
            ov2 = ov.where(pd.notna(ov), None)
            neq = [
                i
                for i, (x, y) in enumerate(zip(sv2.tolist(), ov2.tolist()))
                if x != y and not (x is None and y is None)
            ]
            if neq:
                i = neq[0]
                problems.append(
                    f"column {col}: {len(neq)} diffs; row{i}: {sv2.iloc[i]!r} vs {ov2.iloc[i]!r}"
                )
    return problems


def check_query(spark, name: str, sf_dir: str) -> list[str]:
    import __spark_entry__ as entrymod

    q = entrymod.queries()[name]
    oracles = entrymod.oracle_sql()
    sdf = q(spark, sf_dir)
    # the driver's compare sorts columns BY NAME before hashing, so a
    # repeated or missing output name is a silent failure there
    cols = sdf.columns
    if len(cols) != len(set(cols)) or not cols:
        return [f"output columns must be >= 1 distinct names: {cols}"]
    spark_pdf = sdf.toPandas()
    if name not in oracles:
        return [] if len(spark_pdf) >= 0 else ["spark query failed"]
    oracle_pdf = run_oracle(oracles[name], sf_dir)
    return compare_frames(spark_pdf, oracle_pdf)
