"""Distributed exponentially-weighted moving aggregates (mean / var /
std) as vectorized scans of one shared recurrence (``_scan_chunk``):

- ``ewm_global``: a two-pass segmented scan over range partitions —
  the scale path for EWM over a GLOBAL ordering (no entity key), where
  a single applyInPandas group would funnel the whole table through
  one executor;
- ``ewm_grouped``: one Arrow-batched pass per entity key (see below).

pandas ``Series.ewm(adjust=True)`` semantics (the reference's
ExponentialWeighted* primitives, see
/root/reference/featuretools/primitives/standard/transform/numeric/
exponential_weighted_average.py): at row i,

    mean_i = N_i / D_i,      N_i = sum_{j<=i, x_j valid} w_ij * x_j
                             D_i = sum_{j<=i, x_j valid} w_ij
    w_ij = (1-a)^{d(i,j)}

where d(i,j) counts rows (ignore_na=False, the default: NaN rows still
decay the weight) or valid observations (ignore_na=True).  Every
accumulator satisfies a linear recurrence

    A_i = decay_i * A_{i-1} + add_i

with decay_i in {(1-a), 1} — an associative scan.  The distributed
evaluation is the textbook two-pass prefix-scan over range partitions:

  pass 1:  sort by the order columns (repartitionByRange +
           sortWithinPartitions), run the recurrence inside each
           partition with vectorized numpy, emit ONE summary row per
           partition: the end-state accumulators + the partition's
           total decay product.
  driver:  fold the per-partition summaries left-to-right (tiny:
           one row per partition) into carry-in states.
  pass 2:  rerun the local recurrence, seeding each partition with its
           carry-in, emit the final column.

Variance (pandas bias=False default) additionally tracks
M_i = sum w x^2 and W2_i = sum w^2 (W2 decays by (1-a)^2):

    var_i = max(M/D - mean^2, 0) * D^2 / (D^2 - W2)

(NaN when only one valid observation — D^2 == W2 — matching pandas.)

Grouped evaluation (``ewm_grouped``, GroupByTransform EWM): rows are
hash-partitioned by the key and sorted (key, order) within partitions,
so each key is one contiguous run.  A single ``mapInArrow`` pass takes
each Arrow batch as numpy arrays and cuts it where the key changes (a
null key is one group, as pandas ``groupby(dropna=False)``).  The
scan state resets to zero at every key change; a run still open at the
end of a batch hands its 5-value end state (d, n, m, w2, cnt) to the
first run of the next batch when the key continues.  Memory is one
Arrow batch whatever the group size, and no per-group frame is built.

Numerics: the carry entering partition p is multiplied by the
partition's decay product (1-a)^{rows}; for realistic alpha and
partition sizes this underflows to exactly 0.0, which is also what
the infinite-precision value rounds to in double — no rescaling
tricks needed, unlike the naive "divide two exploding prefix sums"
formulation.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def resolve_alpha(com=None, span=None, halflife=None, alpha=None) -> float:
    """pandas' parameter aliases -> alpha."""
    if alpha is not None:
        return float(alpha)
    if com is not None:
        return 1.0 / (1.0 + float(com))
    if span is not None:
        return 2.0 / (float(span) + 1.0)
    if halflife is not None:
        return 1.0 - math.exp(-math.log(2.0) / float(halflife))
    return 1.0 / 1.5  # com=0.5, the reference default


_STATE = ("d", "n", "m", "w2", "decay", "decay2")


def _scan_chunk(x: np.ndarray, alpha: float, ignore_na: bool,
                carry: tuple[float, float, float, float, float]):
    """Run the EWM recurrence over one sorted chunk.

    Returns (D, N, M, W2) arrays aligned with x, plus the chunk's
    decay products (for D/N/M and for W2).  carry = (d, n, m, w2, cnt)
    entering the chunk (already decayed up to the chunk's first row,
    i.e. pass 2 multiplies the raw carry by the first row's decay
    inside the loop below — we fold the carry in as the scan's
    initial state BEFORE row 0's decay step, mirroring rows -1..).
    """
    q = 1.0 - alpha
    valid = ~np.isnan(x)
    if ignore_na:
        # decay only on valid rows
        dec = np.where(valid, q, 1.0)
        dec2 = np.where(valid, q * q, 1.0)
    else:
        dec = np.full(len(x), q)
        dec2 = np.full(len(x), q * q)

    cd, cn, cm, cw2, ccnt = carry
    x0 = np.where(valid, x, 0.0)
    add_d = valid.astype(np.float64)
    cnt = ccnt + np.cumsum(add_d)
    if q == 0.0:
        # alpha == 1: every VALID observation annihilates history, and
        # pandas carries the last computed value forward through NaN
        # rows regardless of ignore_na -> forward-fill of the
        # single-observation state.
        if len(x):
            idx = np.where(valid, np.arange(len(x)), -1)
            idx = np.maximum.accumulate(idx)
            D = np.where(idx >= 0, 1.0, cd)
            N = np.where(idx >= 0, x0[np.maximum(idx, 0)], cn)
            M = np.where(idx >= 0, x0[np.maximum(idx, 0)] ** 2, cm)
            W2 = D.copy()
        else:
            D = N = M = W2 = np.empty(0)
        last_P = 0.0 if (len(x) and valid.any()) else 1.0
        return D, N, M, W2, cnt, last_P, last_P

    # cumulative decay products INCLUDING row i's step: P_i = prod dec_0..i
    P = np.cumprod(dec)
    P2 = np.cumprod(dec2)
    # A_i = P_i * (carry + sum_{j<=i} add_j / P_j); guard P underflow:
    # once P hits 0, contributions from before that point are 0 anyway —
    # rescan from the underflow point with a fresh origin.  For double
    # alpha >= 1e-8 and chunks <= ~1e7 rows P stays > 0 until ~ -745/ln(q)
    # rows; we rescale in blocks to stay exact.
    D = np.empty(len(x))
    N = np.empty(len(x))
    M = np.empty(len(x))
    W2 = np.empty(len(x))
    # block-wise rescaled scan: within a block, prefix products are
    # bounded away from underflow; the carry re-enters as the block's
    # initial state.  Block length chosen so q^block > 1e-280.
    if 0.0 < q < 1.0:
        # sized for the SQUARED decay (W2's product) staying > 1e-280
        blk = max(int(-140.0 / math.log10(q)), 1)
    else:
        blk = len(x) or 1
    i = 0
    while i < len(x):
        j = min(i + blk, len(x))
        dv = dec[i:j]
        d2v = dec2[i:j]
        Pb = np.cumprod(dv)
        P2b = np.cumprod(d2v)
        with np.errstate(divide="ignore", invalid="ignore"):
            D[i:j] = Pb * (cd + np.cumsum(add_d[i:j] / Pb))
            N[i:j] = Pb * (cn + np.cumsum(x0[i:j] / Pb))
            M[i:j] = Pb * (cm + np.cumsum((x0[i:j] * x0[i:j]) / Pb))
            W2[i:j] = P2b * (cw2 + np.cumsum(add_d[i:j] / P2b))
        cd, cn, cm, cw2 = D[j - 1], N[j - 1], M[j - 1], W2[j - 1]
        i = j
    return D, N, M, W2, cnt, float(P[-1]) if len(x) else 1.0, \
        float(P2[-1]) if len(x) else 1.0


def _finalize(kind: str, D, N, M, W2, cnt):
    with np.errstate(divide="ignore", invalid="ignore"):
        mean = N / D
        if kind == "mean":
            out = mean
        else:
            biased = M / D - mean * mean
            biased = np.maximum(biased, 0.0)
            denom = D * D - W2
            # nobs >= 2 gate: with one observation D^2 - W2 is 0 only
            # up to float rounding (e.g. q=0.99: D = 0.99*(1/0.99) !=
            # 1.0 exactly), which would turn pandas' NaN into 0.0
            factor = np.where(denom > 0, (D * D) / denom, np.inf)
            var = np.where(cnt >= 2, biased * factor, np.nan)
            out = var if kind == "var" else np.sqrt(var)
    return np.where(D > 0, out, np.nan)


def ewm_global(
    df: DataFrame,
    in_col: str,
    out_col: str,
    order_cols: list[str],
    kind: str = "mean",
    alpha: float | None = None,
    com=None,
    span=None,
    halflife=None,
    ignore_na: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """EWM mean/var/std of ``in_col`` over the GLOBAL ``order_cols``
    ordering, distributed: no single task ever holds more than one
    range partition.  Output schema = input schema + out_col(double).
    """
    assert kind in ("mean", "var", "std")
    a = resolve_alpha(com=com, span=span, halflife=halflife, alpha=alpha)
    sc = df.sparkSession
    nparts = num_partitions or max(
        sc.sparkContext.defaultParallelism, 8)

    ordered = (
        df.repartitionByRange(nparts, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("__ewm_pid", F.spark_partition_id())
    )
    # range partitioner can emit fewer/empty partitions; pids are the
    # partition ids actually present, in range order.  Eager checkpoint
    # pins pid assignment across the two passes; localCheckpoint
    # truncates lineage, so a lost executor block fails the job loudly
    # instead of recomputing with a (possibly different) range sample
    # and silently mis-keying the carries.
    ordered = ordered.localCheckpoint(eager=True)

    # ---- pass 1: per-partition end states ------------------------------
    sum_schema = T.StructType([
        T.StructField("pid", T.IntegerType()),
        T.StructField("d", T.DoubleType()), T.StructField("n", T.DoubleType()),
        T.StructField("m", T.DoubleType()),
        T.StructField("w2", T.DoubleType()),
        T.StructField("cnt", T.DoubleType()),
        T.StructField("decay", T.DoubleType()),
        T.StructField("decay2", T.DoubleType()),
    ])

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="stable")
        x = pdf[in_col].to_numpy(dtype=np.float64, na_value=np.nan)
        D, N, M, W2, CNT, P, P2 = _scan_chunk(
            x, a, ignore_na, (0.0, 0.0, 0.0, 0.0, 0.0))
        last = len(x) - 1
        return pd.DataFrame([{
            "pid": int(pdf["__ewm_pid"].iloc[0]),
            "d": D[last] if last >= 0 else 0.0,
            "n": N[last] if last >= 0 else 0.0,
            "m": M[last] if last >= 0 else 0.0,
            "w2": W2[last] if last >= 0 else 0.0,
            "cnt": CNT[last] if last >= 0 else 0.0,
            "decay": P, "decay2": P2,
        }])

    summaries = (
        ordered.select("__ewm_pid", *order_cols, in_col)
        .groupBy("__ewm_pid")
        .applyInPandas(summarize, sum_schema)
        .collect()                      # one row per partition: tiny
    )
    summaries.sort(key=lambda r: r["pid"])

    # ---- driver fold: carry-in per partition ---------------------------
    carries = {}
    cd = cn = cm = cw2 = ccnt = 0.0
    for r in summaries:
        carries[r["pid"]] = (cd, cn, cm, cw2, ccnt)
        # end-state of this partition given its carry-in: the local
        # recurrence is linear, so  global_end = local_end +
        # carry * decay_product  (cnt never decays)
        cd = r["d"] + cd * r["decay"]
        cn = r["n"] + cn * r["decay"]
        cm = r["m"] + cm * r["decay"]
        cw2 = r["w2"] + cw2 * r["decay2"]
        ccnt = r["cnt"] + ccnt
    bc = sc.sparkContext.broadcast(carries)

    # ---- pass 2: final values ------------------------------------------
    out_schema = T.StructType(
        [f for f in df.schema.fields]
        + [T.StructField(out_col, T.DoubleType(), True)]
    )
    keep = [f.name for f in df.schema.fields]

    def finalize(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="stable")
        x = pdf[in_col].to_numpy(dtype=np.float64, na_value=np.nan)
        carry = bc.value.get(int(pdf["__ewm_pid"].iloc[0]),
                             (0.0, 0.0, 0.0, 0.0, 0.0))
        D, N, M, W2, CNT, _, _ = _scan_chunk(x, a, ignore_na, carry)
        pdf[out_col] = _finalize(kind, D, N, M, W2, CNT)
        return pdf[keep + [out_col]]

    return ordered.groupBy("__ewm_pid").applyInPandas(finalize, out_schema)


_ZERO = (0.0, 0.0, 0.0, 0.0, 0.0)


def _key_changes(a: pa.Array) -> np.ndarray:
    """bool[len(a) - 1]: row i+1 holds a different key than row i,
    under grouping equality (null == null, NaN == NaN)."""
    cur, prv = a.slice(1), a.slice(0, len(a) - 1)
    ne = pc.not_equal(cur, prv).fill_null(False).to_numpy(
        zero_copy_only=False)
    if pa.types.is_floating(a.type):
        nan = pc.is_nan(a).fill_null(False).to_numpy(zero_copy_only=False)
        ne &= ~(nan[1:] & nan[:-1])
    valid = a.is_valid().to_numpy(zero_copy_only=False)
    return ne | (valid[1:] != valid[:-1])


def _run_starts(keys, prev) -> np.ndarray:
    """bool mask over one batch: row i opens a new key run.  ``prev``
    holds the previous batch's last key row (1-row arrays), or None at
    the start of a partition."""
    n = len(keys[0])
    start = np.zeros(n, dtype=bool)
    if prev is None:
        start[0] = True
    for j, a in enumerate(keys):
        if prev is None:
            start[1:] |= _key_changes(a)
        else:
            start |= _key_changes(pa.concat_arrays([prev[j], a]))
    return start


def ewm_grouped(
    df: DataFrame,
    in_col: str,
    out_col: str,
    key_cols: list[str],
    order_cols: list[str],
    kind: str = "mean",
    alpha: float | None = None,
    com=None,
    span=None,
    halflife=None,
    ignore_na: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """EWM mean/var/std of ``in_col`` within each ``key_cols`` group,
    in ``order_cols`` order (nulls last, as pandas ``sort_values``),
    as one Arrow-batched segmented scan (module docstring).  Output
    schema = input schema + out_col(double); NaN results are written
    as null, as a pandas UDF writes them.
    """
    if kind not in ("mean", "var", "std"):
        raise ValueError(f"kind must be mean, var or std, not {kind!r}")
    a = resolve_alpha(com=com, span=span, halflife=halflife, alpha=alpha)
    keys = [F.col(c) for c in key_cols]
    parted = (df.repartition(num_partitions, *keys) if num_partitions
              else df.repartition(*keys))
    ordered = parted.sortWithinPartitions(
        *keys, *[F.col(c).asc_nulls_last() for c in order_cols])
    xi = df.columns.index(in_col)
    ki = [df.columns.index(c) for c in key_cols]
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, T.DoubleType(), True)])

    def scan(batches):
        prev, carry = None, _ZERO
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            kcols = [rb.column(i) for i in ki]
            start = _run_starts(kcols, prev)
            x = rb.column(xi).cast(pa.float64()).to_numpy(
                zero_copy_only=False)
            acc = [np.empty(n) for _ in _ZERO]
            ends = np.append(np.flatnonzero(start[1:]) + 1, n)
            s = 0
            for e in ends:
                # only the batch's first run can continue a key
                seg = _scan_chunk(x[s:e], a, ignore_na,
                                  _ZERO if start[s] else carry)
                for dst, src in zip(acc, seg):
                    dst[s:e] = src
                s = e
            carry = tuple(v[-1] for v in acc)
            prev = [k.slice(n - 1) for k in kcols]
            out = pa.array(_finalize(kind, *acc), from_pandas=True)
            yield pa.RecordBatch.from_arrays(
                rb.columns + [out],
                schema=rb.schema.append(pa.field(out_col, pa.float64())))

    return ordered.mapInArrow(scan, out_schema)
