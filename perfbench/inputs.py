"""Benchmark inputs: seeded as-of tables, and the checked sf0.1 fixtures.

The as-of tables are drawn with numpy from one ``np.random.default_rng``
per (table family, seed) and written as parquet with pyarrow, so the
same seed always gives byte-for-byte the same inputs and generating them
never touches Spark. Tables land in ``<cache>/<family>-<hash>-<seed>/``
and a ``_DONE`` marker is written last; a directory without the marker
is regenerated, and the directory name carries a hash of this file.
The ``asof`` family is the pre-tokenized ``sequences`` table in the
shape of ``featuretools_spark.datagen.make_sequences`` (FIXTURES.md F1:
1% of the entities own 30% of the rows), its ``entities`` parent, and
stored 4-per-entity and 64-per-entity cutoff tables.

The declared queries of ``__spark_entry__`` run on a byte copy of the
repository's sf0.1 test fixtures (TESTDATA.md: seed 42, read-only),
kept in ``fixtures/sf0.1`` next to this file so that the benchmark reads
nothing outside its checkout. ``fixtures`` checks every file against
``SHA256SUMS`` before a run uses it; the seed does not change them.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
DAY_US = 86_400 * US

# asof family
SEQ_ROWS = 25_000
SEQ_EVENTS_PER_ENTITY = 100
SEQ_MAX_TOK = 512
SEQ_SPAN_S = 10_000_000          # event times spread over ~116 days
SEQ_ANCHOR_US = 1_704_067_200 * US  # 2024-01-01 00:00:00 UTC
HOT_ROW_SHARE = 0.3              # make_sequences default: 1% of entities
DENSE_PER_ENTITY = 64

KEEP_SEEDS = 6                   # newest cache directories kept per family

SOURCES = np.array(["web", "books", "code", "wiki"])


def _ts(us: np.ndarray, tz: str | None = None) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us", tz=tz))


def _write(table: pa.Table, path: str) -> None:
    # random token ids neither dictionary-encode nor compress
    pq.write_table(table, path, compression="snappy",
                   use_dictionary=[f.name for f in table.schema
                                   if pa.types.is_string(f.type)])


# ----------------------------------------------------------------------
# asof family
# ----------------------------------------------------------------------
def _sequences(rng, n_rows: int, n_entities: int, hot_share: float,
               n_hot: int) -> pa.Table:
    n_tok = rng.integers(1, SEQ_MAX_TOK + 1, n_rows).astype("int32")
    offsets = np.zeros(n_rows + 1, dtype="int32")
    np.cumsum(n_tok, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets),
        pa.array(rng.integers(0, 50257, int(offsets[-1]), dtype="int32")),
    )
    event_us = SEQ_ANCHOR_US + rng.integers(0, SEQ_SPAN_S, n_rows) * US \
        + rng.integers(0, US, n_rows)
    hot = rng.random(n_rows) < hot_share
    entity = np.where(hot, rng.integers(0, n_hot, n_rows),
                      rng.integers(0, n_entities, n_rows))
    return pa.table({
        "doc_id": pa.array(np.char.add("doc", np.char.zfill(
            np.arange(n_rows).astype(str), 8))),
        "tokens": tokens,
        "n_tok": pa.array(n_tok),
        "source": pa.array(SOURCES[rng.integers(0, 4, n_rows)]),
        "event_time": _ts(event_us, "UTC"),
        "entity_id": pa.array(np.char.add("e", np.char.zfill(
            entity.astype(str), 5))),
    })


def _entity_spans(seqs: pa.Table):
    """Per entity (sorted): first, last and last-by-doc_id event time."""
    ent = np.asarray(seqs["entity_id"].to_numpy(zero_copy_only=False))
    t = seqs["event_time"].to_numpy().astype("int64")
    doc = np.asarray(seqs["doc_id"].to_numpy(zero_copy_only=False))
    order = np.lexsort((doc, ent))
    ent_s, t_s = ent[order], t[order]
    starts = np.flatnonzero(np.r_[True, ent_s[1:] != ent_s[:-1]])
    ends = np.r_[starts[1:], len(ent_s)]
    names = ent_s[starts]
    t0 = np.minimum.reduceat(t_s, starts)
    t1 = np.maximum.reduceat(t_s, starts)
    t_exact = t_s[ends - 1]   # event time of the entity's largest doc_id
    return names, t0, t1, t_exact


def _cutoffs(rng, names, t0, t1, t_exact, per_entity: int) -> pa.Table:
    """make_cutoffs' shape: a cutoff before the first event (default
    rows), the midpoint, one exactly at an event time (include_cutoff_time
    matters), one after the last event; with per_entity > 4 the rest are
    evenly spaced over the entity's span. Duplicate (entity, time) pairs
    are dropped."""
    cols = [t0 - DAY_US, (t0 + t1) // 2, t_exact, t1 + 3600 * US]
    k = per_entity - 4
    for i in range(1, k + 1):
        cols.append(t0 + (t1 - t0) * i // (k + 1))
    times = np.stack(cols[:per_entity], axis=1)
    ents = np.repeat(names, times.shape[1])
    flat = times.reshape(-1)
    pairs = np.unique(np.rec.fromarrays([ents, flat], names="e,t"))
    n = len(pairs)
    return pa.table({
        "entity_id": pa.array(pairs["e"]),
        "time": _ts(pairs["t"], "UTC"),
        "label": pa.array(rng.random(n)),
    })


def _entities(names, t0) -> pa.Table:
    return pa.table({"entity_id": pa.array(names),
                     "first_seen": _ts(t0, "UTC")})


def _gen_asof(seed: int, out: str) -> None:
    rng = np.random.default_rng([seed, 1])
    n_ent = SEQ_ROWS // SEQ_EVENTS_PER_ENTITY
    seqs = _sequences(rng, SEQ_ROWS, n_ent, HOT_ROW_SHARE, max(1, n_ent // 100))
    _write(seqs, f"{out}/sequences.parquet")
    spans = _entity_spans(seqs)
    _write(_entities(spans[0], spans[1]), f"{out}/entities.parquet")
    _write(_cutoffs(rng, *spans, 4), f"{out}/cutoffs.parquet")
    _write(_cutoffs(rng, *spans, DENSE_PER_ENTITY),
           f"{out}/dense_cutoffs.parquet")


GENERATORS = {"asof": _gen_asof}


def _version() -> str:
    """Changes whenever this generator changes, so a stale cache is never
    read."""
    with open(__file__, "rb") as fh:
        return hashlib.sha1(fh.read()).hexdigest()[:10]


def ensure(cache_root: str, family: str, seed: int) -> tuple[str, float]:
    """Return (directory, seconds spent generating; 0.0 on a cache hit)."""
    out = os.path.join(cache_root, f"{family}-{_version()}-{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    GENERATORS[family](seed, out)
    seconds = time.perf_counter() - t0
    with open(os.path.join(out, "_DONE"), "w") as fh:
        fh.write(repr(seconds))
    _prune(cache_root, family, keep=out)
    return out, seconds


def generate_seconds(out: str) -> float:
    """Seconds the cached inputs in ``out`` took to generate."""
    with open(os.path.join(out, "_DONE")) as fh:
        return float(fh.read())


def _prune(cache_root: str, family: str, keep: str) -> None:
    dirs = [os.path.join(cache_root, d) for d in os.listdir(cache_root)
            if d.startswith(family + "-")]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_SEEDS:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures", "sf0.1")


def fixtures() -> tuple[str, float]:
    """Return (the sf0.1 fixture directory, seconds spent checking it).
    Raises if a file is missing or differs from ``SHA256SUMS``."""
    t0 = time.perf_counter()
    with open(os.path.join(FIXTURES, "SHA256SUMS")) as fh:
        for line in fh:
            digest, name = line.split()
            with open(os.path.join(FIXTURES, name), "rb") as f:
                got = hashlib.file_digest(f, "sha256").hexdigest()
            if got != digest:
                raise RuntimeError(f"fixture {name} differs from SHA256SUMS")
    return FIXTURES, time.perf_counter() - t0
