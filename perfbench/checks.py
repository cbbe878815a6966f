"""Correctness checks the benchmark runs on the program's outputs."""

from __future__ import annotations

import numpy as np
import pandas as pd

from importtoneo4j_spark.oracle import Oracle, precision_recall

MIN_PR = 0.95  # the north rule's triple precision/recall floor


def pipeline_pr(transcripts_dir: str, gen, triples_df) -> tuple[float, float]:
    """Triple precision/recall of a materialized store against the
    sequential pure-Python ``Oracle`` over the same corpus."""
    oracle = Oracle(pd.read_parquet(transcripts_dir), gen.alias_truth())
    engine = set(
        triples_df.select("subj", "pred", "obj").toPandas().itertuples(index=False, name=None)
    )
    return precision_recall(engine, oracle.triple_set())


def _columns(pdf: pd.DataFrame) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Exact-compare and float-compare columns in name order, with engine
    type differences (int widths, timestamp units, Decimal) normalized."""
    exact, approx = [], []
    for c in sorted(pdf.columns):
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            exact.append(s.astype("datetime64[ns]").astype("int64").to_numpy())
        elif s.dtype == object and not all(isinstance(v, str) for v in s.dropna()[:1]):
            # DuckDB returns DECIMAL results as Python Decimal objects
            approx.append(pd.to_numeric(s).astype(float).to_numpy())
        elif pd.api.types.is_float_dtype(s):
            approx.append(s.to_numpy(dtype=float))
        elif pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
            exact.append(s.to_numpy(dtype=np.int64))
        else:
            exact.append(s.astype(str).to_numpy())
    return exact, approx


def _sorted(exact: list[np.ndarray], approx: list[np.ndarray], n: int):
    keys = exact + [np.round(a, 3) for a in approx]
    order = np.lexsort(keys[::-1]) if keys else np.arange(n)
    return [e[order] for e in exact], [a[order] for a in approx]


def same_rows(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str | None:
    """None when both results hold the same rows in any order (floats to
    1e-4 absolute, the 4-decimal rounding every gate applies); else why not."""
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"columns {list(spark_pdf.columns)} vs {list(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return f"rows {len(spark_pdf)} vs {len(duck_pdf)}"
    (se, sa), (de, da) = _columns(spark_pdf), _columns(duck_pdf)
    for i, (x, y) in enumerate(zip(se, de)):
        if x.dtype == object:
            # strings become their rank in the sorted union of both sides:
            # equal codes are equal strings, and np.lexsort on integers is
            # fast where on Python strings it takes seconds per 100k rows
            codes = pd.factorize(np.concatenate([x, y]), sort=True)[0]
            se[i], de[i] = codes[: len(x)], codes[len(x) :]
    (se, sa), (de, da) = _sorted(se, sa, len(spark_pdf)), _sorted(de, da, len(duck_pdf))
    for x, y in zip(se, de):
        if not np.array_equal(x, y):
            return "values differ"
    for x, y in zip(sa, da):
        if not np.allclose(x, y, rtol=1e-9, atol=1e-4, equal_nan=True):
            return "float values differ"
    return None


def triple_pr(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> tuple[float, float]:
    """Precision/recall of a (subj, pred, obj) result against its oracle."""
    cols = ["subj", "pred", "obj"]
    got = set(spark_pdf[cols].itertuples(index=False, name=None))
    want = set(duck_pdf[cols].itertuples(index=False, name=None))
    return precision_recall(got, want)
