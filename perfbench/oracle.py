"""Output checks: DuckDB oracles and the row comparison.

The comparison is the one ``tools/check_oracle.py`` applies to the
declared queries: values are normalised (floats rounded to 4 decimals,
NaN kept distinct from null, decimals as floats), rows are compared as
multisets over the sorted column names, and every column's type
must fall in the same class (int width, float width, str, ts, ...) on
both sides. Nothing is looser than that checker.

The as-of oracle is DuckDB SQL owned by the benchmark for the five
flagship aggregates over the same parquet inputs, with
``include_cutoff_time=True`` (events at the cutoff count) and an
optional training window ``(cutoff - window, cutoff]``.
"""

from __future__ import annotations

import datetime
import decimal
import math
from collections import Counter

COUNT = "COUNT(sequences)"
SUM = "SUM(sequences.n_tok)"
MEAN = "MEAN(sequences.n_tok)"
STD = "STD(sequences.n_tok)"
TSL = "TIME_SINCE_LAST(sequences.event_time)"


def seqs_table(path: str) -> str:
    return (f"(SELECT entity_id, doc_id, n_tok, event_time::TIMESTAMP AS "
            f"event_time FROM read_parquet('{path}'))")


def cutoffs_table(path: str) -> str:
    return (f"(SELECT entity_id, time::TIMESTAMP AS time, label "
            f"FROM read_parquet('{path}'))")


def entities_table(path: str) -> str:
    return (f"(SELECT entity_id, first_seen::TIMESTAMP AS first_seen "
            f"FROM read_parquet('{path}'))")


def asof_sql(seqs: str, ents: str, cutoffs: str,
             window_days: int | None = None) -> str:
    """Expected matrix for one cutoff table. ``seqs``/``ents``/``cutoffs``
    are DuckDB table expressions from the ``*_table`` helpers (UTC
    wall-clock TIMESTAMPs; the connection runs with TimeZone=UTC).

    The reference's target-grain filter applies: an entity whose
    ``first_seen`` is after the cutoff, or not inside the training
    window, keeps its row but gets the defaults (COUNT and SUM 0, the
    others null). STD is the population deviation (``np.std``)."""
    lo = ok = ""
    if window_days:
        w = f"c.time - INTERVAL {int(window_days)} DAY"
        lo = f" AND s.event_time > {w}"
        ok = f" AND e.first_seen > {w}"
    return f"""
    WITH c AS (SELECT c.entity_id, c.time, c.label,
                      e.first_seen <= c.time{ok} AS ok
               FROM {cutoffs} c JOIN {ents} e ON e.entity_id = c.entity_id),
    a AS (
      SELECT c.entity_id, c.time, any_value(c.label) AS label,
             any_value(c.ok) AS ok,
             count(s.doc_id) AS n,
             sum(s.n_tok) AS s,
             avg(s.n_tok) AS m,
             stddev_pop(s.n_tok) AS sd,
             max(s.event_time) AS last_t
      FROM c LEFT JOIN {seqs} s
        ON s.entity_id = c.entity_id AND s.event_time <= c.time{lo}
      GROUP BY c.entity_id, c.time
    )
    SELECT entity_id, time, label,
           CASE WHEN ok THEN n ELSE 0 END AS "{COUNT}",
           CASE WHEN ok THEN coalesce(s, 0) ELSE 0 END::BIGINT AS "{SUM}",
           CASE WHEN ok THEN m END AS "{MEAN}",
           CASE WHEN ok THEN sd END AS "{STD}",
           CASE WHEN ok THEN (epoch_us(time) - epoch_us(last_t)) / 1e6 END
             AS "{TSL}"
    FROM a
    """


# ----------------------------------------------------------------------
# normalisation and typed comparison (tools/check_oracle.py rules)
# ----------------------------------------------------------------------
def norm(v):
    if v is None:
        return None
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        # the same instant as a naive UTC wall-clock time
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 4)
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 4)
    return v


def aclass(t: str):
    """Arrow type string -> (class, width)."""
    t = t.lower()
    if t.startswith("list<") or t.startswith("large_list<"):
        inner = t[t.index("<") + 1:-1]
        if ":" in inner:
            inner = inner.split(":", 1)[1].strip()
        return ("list", aclass(inner))
    if t.startswith("decimal"):
        return ("int", 128) if t.endswith(", 0)") or ",0)" in t \
            else ("float", 128)
    for w in (8, 16, 32, 64):
        if t in (f"int{w}", f"uint{w}"):
            return ("int", w)
    if t in ("float", "float32"):
        return ("float", 32)
    if t in ("double", "float64"):
        return ("float", 64)
    if t == "bool":
        return ("bool", None)
    if t in ("string", "large_string", "utf8", "large_utf8"):
        return ("str", None)
    if t.startswith("timestamp"):
        return ("ts", None)
    if t.startswith("date"):
        return ("date", None)
    if t in ("binary", "large_binary"):
        return ("bin", None)
    return ("other", t)


_SPARK_ARROW = {"tinyint": "int8", "smallint": "int16", "int": "int32",
                "bigint": "int64", "float": "float32", "double": "float64",
                "boolean": "bool", "string": "string", "date": "date32",
                "binary": "binary"}


def sclass(simple: str):
    """Spark simpleString type -> (class, width)."""
    simple = simple.lower()
    if simple.startswith("array<"):
        return ("list", sclass(simple[6:-1]))
    if simple.startswith("decimal("):
        return ("int", 128) if simple.endswith(",0)") else ("float", 128)
    if simple.startswith("timestamp"):
        return ("ts", None)
    return aclass(_SPARK_ARROW.get(simple, simple))


def compare(got_cols: dict, got_rows: list[tuple], exp_cols: dict,
            exp_rows: list[tuple], drop: tuple = (),
            cache: dict | None = None) -> list[str]:
    """Compare one call's output with its oracle.

    ``got_cols``/``exp_cols`` map column name -> (class, width) and give
    the column order of ``got_rows``/``exp_rows``. Columns in ``drop``
    are left out on both sides. Rows are compared as multisets of
    normalised tuples. ``cache`` (a dict owned by the caller) keeps the
    normalised expected rows for the next call with the same oracle.
    Returns a list of problems; empty means the output matches."""
    gnames = [c for c in got_cols if c not in drop]
    enames = [c for c in exp_cols if c not in drop]
    if sorted(gnames) != sorted(enames):
        return [f"columns {sorted(gnames)} != {sorted(enames)}"]
    cols = sorted(gnames)
    problems = [f"type {c}: {got_cols[c]} != {exp_cols[c]}"
                for c in cols if got_cols[c] != exp_cols[c]]
    gi = [list(got_cols).index(c) for c in cols]
    ei = [list(exp_cols).index(c) for c in cols]
    g = Counter(tuple(norm(r[i]) for i in gi) for r in got_rows)
    key = (id(exp_rows), tuple(cols))
    if cache is not None and key in cache:
        e = cache[key]
    else:
        e = Counter(tuple(norm(r[i]) for i in ei) for r in exp_rows)
        if cache is not None:
            cache[key] = e
    if len(got_rows) != len(exp_rows):
        problems.append(f"rows {len(got_rows)} != {len(exp_rows)}")
    extra, missing = g - e, e - g
    if extra or missing:
        problems.append(
            f"{sum(extra.values())} rows differ (columns {cols}), first: "
            f"got={next(iter(extra), None)} "
            f"expected={next(iter(missing), None)}")
    return problems


def duck_result(con, sql: str):
    """Run SQL in DuckDB -> (column classes, rows)."""
    cur = con.execute(sql)
    schema = cur.arrow().schema
    cols = {f.name: aclass(str(f.type)) for f in schema}
    rows = con.execute(sql).fetchall()
    return cols, rows


def spark_result(df):
    """Collect a Spark frame -> (column classes, rows)."""
    cols = {f.name: sclass(f.dataType.simpleString())
            for f in df.schema.fields}
    table = df.toArrow()
    rows = list(zip(*(c.to_pylist() for c in table.columns)))
    return cols, rows
