"""Tracked persist() for intra-query stage frames.

Several operators persist an intermediate frame that feeds multiple branches
of the SAME query plan (LSH bands, BM25 term frequencies, shingle tables).
The returned query frame is lazy, so the operator itself has no "after the
final action" point at which to unpersist — which previously leaked the
pinned blocks into the session for library callers (bench.py worked around
it with spark.catalog.clearCache()).

`pin(df)` persists and registers the frame; `release_pins()` unpersists
everything registered. Callers run their action on the returned query frame
(the pins populate and get reused during that action), then release:

    result = minhash_lsh_pairs(...)
    result.write.parquet(...)   # pins populate + serve branch reuse here
    release_pins()              # drop the stage blocks from the session

Releasing BEFORE the action is safe too — the frames just lose caching and
branches recompute (correctness is unaffected).

The module also holds the one trained-model memo: `memo_model(name, path,
train)` trains once per (name, `io.file_stamp(path)`), the stamp that also
keys `io.load_table`'s schema memo, and `clear_memos()` empties it.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame

from etl_poc_spark.io import file_stamp

T = TypeVar("T")

_PINNED: list[DataFrame] = []

# Process-level trained-model memo (kmeans centroids, PQ codebooks, BPE
# merges), one dict keyed by (model name, file stamp of the table it was
# trained on). It exists so a long-lived SESSION (gates, entry, production
# serving) trains once per table version — but a BENCHMARK that keeps it
# warm across its repeated runs amortizes training out of runs 2..N and
# publishes medians that understate cold-run cost (r16 verdict item 3).
# bench.py and tools/time_query.py call clear_memos() between timed runs so
# every run pays training; nothing else should call it.
_MODELS: dict[tuple, object] = {}


def memo_model(name: str, path: str, train: Callable[[], T]) -> T:
    """The model `name` trained on the file at `path`: `train()` runs once
    per `io.file_stamp(path)`, so a rewritten file trains again. A path
    that cannot be stat'ed has no stamp and trains on every call."""
    stamp = file_stamp(path)
    if stamp is None:
        return train()
    key = (name, stamp)
    if key not in _MODELS:
        _MODELS[key] = train()
    return _MODELS[key]


def clear_memos() -> int:
    """Empty the model memo; returns how many model names held an entry."""
    n = len({name for name, _ in _MODELS})
    _MODELS.clear()
    return n


def pin(df: DataFrame) -> DataFrame:
    """Persist `df` and track it for a later release_pins()."""
    df.persist()
    _PINNED.append(df)
    return df


def release_pins() -> int:
    """Unpersist every tracked frame; returns how many were released."""
    n = 0
    while _PINNED:
        df = _PINNED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            # session already stopped — the blocks are gone anyway
            pass
    return n
