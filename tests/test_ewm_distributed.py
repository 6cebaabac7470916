"""Distributed (segmented-scan) EWM: parity with pandas across many
range partitions — the scale path for global-ordering EWM transforms —
and across key runs and Arrow batches for grouped EWM transforms
(reference semantics: primitives/standard/transform/numeric/
exponential_weighted_average.py etc., pandas ewm adjust=True).
"""

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from featuretools_spark.cfm import _apply_pandas_transform
from featuretools_spark.ewm import (_finalize, _scan_chunk, ewm_global,
                                    ewm_grouped)
from featuretools_spark.primitives.transform import (
    ExponentialWeightedAverage,
    ExponentialWeightedSTD,
    ExponentialWeightedVariance,
)


def _pandas_ewm(s, kind, **kw):
    return getattr(s.ewm(**kw), kind)().to_numpy()


@pytest.mark.parametrize("alpha", [0.01, 0.3, 0.9, 1.0])
@pytest.mark.parametrize("ignore_na", [False, True])
def test_scan_chunk_matches_pandas(alpha, ignore_na):
    rng = np.random.RandomState(0)
    x = rng.randn(4000)
    x[rng.rand(4000) < 0.15] = np.nan
    D, N, M, W2, CNT, _, _ = _scan_chunk(
        x, alpha, ignore_na, (0.0, 0.0, 0.0, 0.0, 0.0))
    s = pd.Series(x)
    for kind in ("mean", "var", "std"):
        got = _finalize(kind, D, N, M, W2, CNT)
        exp = _pandas_ewm(s, kind, alpha=alpha, ignore_na=ignore_na)
        assert np.allclose(got, exp, equal_nan=True, atol=1e-9, rtol=1e-7), \
            (alpha, ignore_na, kind)


def test_carry_split_equals_single_scan():
    """Splitting a sequence at an arbitrary boundary and feeding the
    end-state as the next chunk's carry must reproduce the unsplit
    scan exactly — the invariant the two-pass distributed evaluation
    rests on."""
    rng = np.random.RandomState(1)
    x = rng.randn(3000)
    x[rng.rand(3000) < 0.1] = np.nan
    for ig in (False, True):
        full = _scan_chunk(x, 0.25, ig, (0.0,) * 5)
        a = _scan_chunk(x[:1111], 0.25, ig, (0.0,) * 5)
        carry = tuple(arr[-1] for arr in a[:5])
        b = _scan_chunk(x[1111:], 0.25, ig, carry)
        for i in range(5):
            assert np.allclose(np.concatenate([a[i], b[i]]), full[i],
                               equal_nan=True)


@pytest.mark.parametrize("kind", ["mean", "std", "var"])
def test_ewm_global_multi_partition(spark, kind):
    rng = np.random.RandomState(7)
    n = 50_000
    pdf = pd.DataFrame({"id": np.arange(n), "x": rng.randn(n)})
    pdf.loc[rng.rand(n) < 0.05, "x"] = np.nan
    df = spark.createDataFrame(pdf)
    out = (
        ewm_global(df, "x", "y", ["id"], kind=kind, com=0.5,
                   num_partitions=16)
        .orderBy("id").toPandas()
    )
    # really distributed: more than one range partition carried state
    exp = _pandas_ewm(pdf["x"], kind, com=0.5)
    assert np.allclose(out["y"].to_numpy(), exp, equal_nan=True,
                       atol=1e-9, rtol=1e-6)


def test_ewm_global_tiny_alpha_long_run(spark):
    """alpha small enough that weights decay slowly across partition
    boundaries — the carry term stays numerically significant."""
    rng = np.random.RandomState(9)
    n = 20_000
    pdf = pd.DataFrame({"id": np.arange(n), "x": rng.randn(n)})
    df = spark.createDataFrame(pdf)
    out = (
        ewm_global(df, "x", "y", ["id"], kind="mean", alpha=1e-4,
                   num_partitions=12)
        .orderBy("id").toPandas()
    )
    exp = _pandas_ewm(pdf["x"], "mean", alpha=1e-4)
    assert np.allclose(out["y"].to_numpy(), exp, atol=1e-9, rtol=1e-6)


def test_missing_pid_carry_default_is_valid_five_tuple():
    """ADVICE r3: finalize's zero-carry default (used when a pid is
    absent from the broadcast carries) must be a 5-tuple that
    reproduces a from-scratch scan — 4 elements raised ValueError in
    the executor."""
    import inspect

    import featuretools_spark.ewm as ewm_mod

    x = np.array([1.0, np.nan, 3.0, 2.0])
    default = (0.0, 0.0, 0.0, 0.0, 0.0)
    D, N, M, W2, CNT, _, _ = _scan_chunk(x, 0.4, False, default)
    exp = pd.Series(x).ewm(alpha=0.4).mean().to_numpy()
    assert np.allclose(_finalize("mean", D, N, M, W2, CNT), exp,
                       equal_nan=True)
    # the in-source default literal is the 5-element one
    src = inspect.getsource(ewm_mod.ewm_global)
    assert "(0.0, 0.0, 0.0, 0.0, 0.0)" in src


# ----------------------------------------------------------------------
# grouped EWM (GroupByTransformFeature): ewm_grouped's segmented scan
# ----------------------------------------------------------------------
_EWM_PRIMS = {"mean": ExponentialWeightedAverage,
              "std": ExponentialWeightedSTD,
              "var": ExponentialWeightedVariance}
_GROUPED_SCHEMA = "id long, grp long, val double, ts timestamp"


def _grouped_rows(rng, n=400):
    """(id, grp, val, ts) rows with every grouped-EWM edge: a null
    group key, single-row groups, an all-NaN group, NaN and null values
    mixed in, ts strictly increasing with id."""
    rows = []
    t0 = dt.datetime(2024, 1, 1)
    grp = rng.randint(0, 12, n).astype(object)
    grp[rng.rand(n) < 0.08] = None            # the null-key group
    grp[:3] = [100, 101, 102]                 # three single-row groups
    grp[3:9] = 200                            # the all-NaN group
    for i in range(n):
        v = float(rng.randn())
        r = rng.rand()
        if grp[i] == 200 or r < 0.08:
            v = float("nan")
        elif r < 0.16:
            v = None
        rows.append((i, grp[i], v, t0 + dt.timedelta(minutes=int(i))))
    return rows


def _pandas_grouped(rows, kind, **kw):
    """pandas reference: per-group Series.ewm in (ts, id) order; NaN
    exactly where the pandas-UDF path wrote null."""
    pdf = pd.DataFrame(rows, columns=["id", "grp", "val", "ts"])
    pdf["val"] = pdf["val"].astype(float)
    pdf = pdf.sort_values(["ts", "id"], kind="stable")
    out = pdf.groupby("grp", dropna=False)["val"].transform(
        lambda s: getattr(s.ewm(**kw), kind)())
    out.index = pdf["id"].to_numpy()
    return out


def _assert_matches(got, exp):
    """got: {id: value or None}; exp: pandas Series by id."""
    assert len(got) == len(exp)
    ids = exp.index.to_numpy()
    g = np.array([np.nan if got[i] is None else got[i] for i in ids])
    e = exp.to_numpy(dtype=float)
    assert (np.isnan(g) == np.isnan(e)).all(), ids[np.isnan(g) != np.isnan(e)]
    assert np.allclose(g, e, equal_nan=True, atol=1e-9, rtol=1e-7)


@pytest.mark.parametrize("params", [{"alpha": 1.0}, {"com": 0.5},
                                    {"span": 7}, {"halflife": 2.5}],
                         ids=["alpha1", "com", "span", "halflife"])
@pytest.mark.parametrize("ignore_na", [False, True])
def test_ewm_grouped_matches_pandas(spark, params, ignore_na):
    rows = _grouped_rows(np.random.RandomState(21))
    df = spark.createDataFrame(rows, _GROUPED_SCHEMA)
    for kind, cls in _EWM_PRIMS.items():
        df = _apply_pandas_transform(
            df, cls(ignore_na=ignore_na, **params), ["val"], f"y_{kind}",
            ["ts", "id"], ["grp"])
    out = df.collect()
    # the null value must still be null on the way out, NaN left as is
    assert sum(r["val"] is None for r in out) == sum(
        r[2] is None for r in rows)
    for kind in _EWM_PRIMS:
        got = {r["id"]: r[f"y_{kind}"] for r in out}
        exp = _pandas_grouped(rows, kind, ignore_na=ignore_na, **params)
        _assert_matches(got, exp)


def test_ewm_grouped_hot_key_across_batches(spark):
    """One hot key spread over many 7-row Arrow batches next to small
    keys: the 5-value end state must carry across every batch boundary
    (and reset at each key change inside a batch)."""
    rng = np.random.RandomState(5)
    n = 600
    rows = []
    t0 = dt.datetime(2024, 1, 1)
    for i in range(n):
        g = 1 if i % 5 else int(rng.randint(2, 30))  # key 1 is hot
        v = float("nan") if rng.rand() < 0.1 else float(rng.randn())
        rows.append((i, g, v, t0 + dt.timedelta(seconds=int(i))))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = spark.createDataFrame(rows, _GROUPED_SCHEMA)
        for kind in ("mean", "var"):
            df = ewm_grouped(df, "val", f"y_{kind}", ["grp"], ["ts", "id"],
                             kind=kind, alpha=0.05, num_partitions=3)
        out = df.collect()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old)
    for kind in ("mean", "var"):
        got = {r["id"]: r[f"y_{kind}"] for r in out}
        _assert_matches(got, _pandas_grouped(rows, kind, alpha=0.05))


def test_ewm_grouped_float_and_string_keys(spark):
    """NaN is one float key (Spark grouping equality, pandas
    dropna=False); a null string key is one group."""
    rng = np.random.RandomState(8)
    rows = []
    for i in range(120):
        k = [0.5, 1.5, float("nan")][i % 3]
        s = [None, "a", "b", "c"][int(rng.randint(0, 4))]
        rows.append((i, k, s, float(rng.randn())))
    df = spark.createDataFrame(
        rows, "id long, fk double, sk string, val double")
    df = ewm_grouped(df, "val", "y_f", ["fk"], ["id"], com=0.5)
    df = ewm_grouped(df, "val", "y_s", ["sk"], ["id"], com=0.5)
    out = df.collect()
    pdf = pd.DataFrame(rows, columns=["id", "fk", "sk", "val"])
    for col, key in (("y_f", "fk"), ("y_s", "sk")):
        exp = pdf.groupby(key, dropna=False)["val"].transform(
            lambda s: s.ewm(com=0.5).mean())
        exp.index = pdf["id"].to_numpy()
        _assert_matches({r["id"]: r[col] for r in out}, exp)
