"""Delta-log stores — the one slot, replay, concurrency and compaction
contract behind every continuous-ingest store family: exact dedup and
near-dup bands (operators/incremental.py), line dedup (linededup.py),
span dedup (spandedup.py), bigram LM (ngram_lm.py), DSIR (dsir.py),
DoReMi and badwords (curation.py) and the ANN postings (annstore.py).
Each family keeps only its delta computation and a `DeltaStoreSpec`
constant — key columns plus an associative `agg` map — and goes through
the spec for everything below.

Slots. Each ingested batch writes ONE slot of pre-aggregated delta rows:
a `tag=<batch_tag>` directory (`tag_slot`; a tag outside [A-Za-z0-9._-]
is refused, so distinct tags never share a slot), a `batch_id=<n>`
directory (`batch_slot`), or — only when no slot is named — loose
part-files at the store root. `DeltaStoreSpec.append` overwrites the
slot directory. Reads fold the whole log with the spec's associative
aggregate (exact-integer SUM/MIN/MAX, or DISTINCT for a set store), so
the state does not depend on how history was sliced into batches.

Replay. foreachBatch delivery is at-least-once: a batch interrupted
before its checkpoint commit runs again with the same id. The store slot
and every sink output are keyed by that id (`append`; `write_batch_slot`
for kept/monitor sinks), and an ingest reads history with its OWN slot
excluded (`DeltaStoreSpec.read(..., exclude_slot=)`), so the replay sees
the pre-batch view, recomputes the same output and overwrites the same
slots — effectively-once. For a store of two logs (bigram LM, DSIR
roles) the same exclusion heals a crash between the two writes. Two
cases raise instead of double-counting: excluding a slot compaction
already folded (`CompactedSlotReplayError`) and excluding a slot from a
store that holds loose files (`DeltaStoreModeError` — one mode per
store). An ingest whose returned frame is planned against the store
materializes it (`localCheckpoint`) BEFORE its append: Spark lists
parquet files at action time, and a later action would otherwise count
the batch's own slot as history.

First ingest. `DeltaStoreSpec.read` returns None when the store
directory does not exist, decided from the root listing it takes
anyway. Anything else — a corrupt footer, an empty directory — raises:
treating it as "no history" would silently reset the store.

Concurrency. SINGLE WRITER PER SLOT (slot ids come from streaming batch
ids, serialized by the checkpoint). A sequential same-slot write is a
replay and replaces the slot (last-writer-wins); concurrent writers of
DISTINCT slots are safe (independent directories, order-free fold);
concurrent writers of the SAME slot are out of contract — Spark's
overwrite is delete-then-commit — with the damage confined to that slot
and healed by one sequential replay (tests/test_store_concurrency.py).

Compaction. Reads cost O(#slots) listings — ~500k slots after a year at
one batch per minute. `compact_delta_store` (`DeltaStoreSpec.compact`)
folds old slots into ONE consolidated slot holding the same aggregate
the readers compute, so reads are bit-equal before and after. The rows
land in a HIDDEN directory first (underscore-prefixed: invisible to
Spark's file index), then one atomic rename publishes a manifest naming
the folded slots (the `checkpoint_versioned` discipline of
operators/upsert.py). A crash before the publish leaves an orphan the
next compaction overwrites; a crash after it leaves folded slots that
readers already exclude by name. Layout after n compactions::

    store_dir/
      _compactions/0000000n.json   <- newest manifest wins
      _compacted/0000000n/         <- consolidated rows (hidden dir)
      tag=.../ | batch_id=.../     <- live tail slots (not yet folded)

Manifest: {"gen": n, "folded": [every slot name ever folded],
"rows_dir": "_compacted/0000000n"}; `folded` is CUMULATIVE, so readers
need only the newest. Compaction is MAINTENANCE: one compactor at a
time, over committed batches only; `keep_slots` (default 1) leaves the
newest slots unfolded for the in-flight replay, and a slot written after
the compactor listed the root stays live. Vacuum (default on) deletes
folded slots after the publish; a reader that planned its scan before
and acts after can hit a missing file (the window every slot overwrite
has) — compact from the ingest loop, or pass vacuum=False and call
`vacuum_delta_store` later.

The reference system has no continuous-ingest store (its DAG recomputes
from sources each run — airflow/dags/zara_hybrid_etl.py); this tier is
for the 100 TB crawl, where recomputing history is not an option.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_poc_spark.operators.upsert import _hfs, _join, _read_commit

_COMPACTIONS = "_compactions"
_COMPACTED = "_compacted"

_AGG_FNS = {"sum": F.sum, "min": F.min, "max": F.max}

_TAG_RE = re.compile(r"[A-Za-z0-9._-]+")


class CompactedSlotReplayError(RuntimeError):
    """A replay asked to exclude a slot that compaction already folded —
    the store can no longer reconstruct the pre-batch view, so reading on
    would double-count the batch against its own folded delta. Fold only
    committed batches (keep_slots guards the in-flight tail)."""


class DeltaStoreModeError(RuntimeError):
    """Slot-keyed exclusion was requested on a store that (also) holds
    LOOSE appended files — rows that no slot name can ever exclude, so
    the replay guarantee would silently degrade (ADVICE r15: a store
    first written with batch_id=None, then ingested with a batch_id).
    Pick one mode per store: always tagged/batched, or never."""


def _safe_tag(batch_tag: str) -> str:
    """`batch_tag` itself, if it can name a slot directory unchanged.
    Anything outside [A-Za-z0-9._-] is refused rather than rewritten: a
    rewrite ('x/1' -> 'x_1') would let two distinct tags share one slot,
    and the second ingest would overwrite the first batch."""
    if not _TAG_RE.fullmatch(batch_tag):
        raise ValueError(
            f"batch tag {batch_tag!r} must be non-empty and use only "
            "[A-Za-z0-9._-]"
        )
    return batch_tag


def tag_slot(batch_tag: str | None) -> str | None:
    """Slot name of a tagged batch ('tag=<batch_tag>'); None stays None
    (a loose append, or no replay exclusion)."""
    return None if batch_tag is None else f"tag={_safe_tag(batch_tag)}"


def batch_slot(batch_id: int | None) -> str | None:
    """Slot name of a streaming micro-batch ('batch_id=<n>'); None stays
    None."""
    return None if batch_id is None else f"batch_id={int(batch_id)}"


def _root_entries(spark: SparkSession, store_dir: str) -> list[dict] | None:
    """Non-hidden direct children of the store root, or None if the store
    directory does not exist. Hidden names (`_`/`.` prefix) are exactly
    the ones Spark's file index skips — the manifest and consolidated
    rows live there, invisible to readers that don't ask for them."""
    fs, P = _hfs(spark, store_dir)
    p = P(store_dir)
    if not fs.exists(p):
        return None
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        out.append(
            {
                "name": name,
                "is_file": bool(st.isFile()),
                "mtime": int(st.getModificationTime()),
            }
        )
    return out


def load_compaction_manifest(spark: SparkSession, store_dir: str) -> dict | None:
    """The NEWEST published compaction manifest, or None. Readers never
    need older ones: `folded` is cumulative by construction."""
    cdir = _join(store_dir, _COMPACTIONS)
    fs, P = _hfs(spark, cdir)
    if not fs.exists(P(cdir)):
        return None
    names = sorted(
        st.getPath().getName()
        for st in fs.listStatus(P(cdir))
        if st.getPath().getName().endswith(".json")
        and not st.getPath().getName().startswith(".")
    )
    if not names:
        return None
    return _read_commit(fs, P, spark._jvm, _join(cdir, names[-1]))


def _exclusion_filter(df: DataFrame, drop: list[dict]) -> DataFrame:
    """Row-level exclusion of specific root entries from a recursive read
    — the same input_file_name seam every tagged replay read already
    uses; `drop` is small by construction (vacuum residue + at most one
    replay slot), so this never becomes an O(#slots) predicate."""
    cond = None
    for e in drop:
        c = (
            F.input_file_name().endswith("/" + e["name"])
            if e["is_file"]
            else F.input_file_name().contains("/" + e["name"] + "/")
        )
        cond = c if cond is None else (cond | c)
    return df if cond is None else df.where(~cond)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.option("recursiveFileLookup", "true").parquet(path)


def _read_log(
    spark: SparkSession, store_dir: str, exclude_slot: str | None
) -> DataFrame | None:
    """read_delta_store's body; None when the store directory is missing."""
    entries = _root_entries(spark, store_dir)
    if entries is None:
        return None
    man = load_compaction_manifest(spark, store_dir)
    if man is None and not entries:
        # empty-but-existing dir: surface the genuine schema-inference error
        return _read_parquet(spark, store_dir)
    folded = set(man["folded"]) if man else set()
    if exclude_slot is not None:
        if exclude_slot in folded:
            raise CompactedSlotReplayError(
                f"slot {exclude_slot!r} of store {store_dir!r} was folded by "
                f"compaction gen {man['gen']}; the pre-batch view no longer "
                "exists — fold only committed batches (keep_slots)"
            )
        loose = [e["name"] for e in entries if e["is_file"]]
        if loose:
            raise DeltaStoreModeError(
                f"store {store_dir!r} holds loose appended files "
                f"({loose[:3]}...) that slot exclusion can never drop; "
                "replaying with a slot id against a loose-append store "
                "silently double-counts history (ADVICE r15)"
            )
    drop = [
        e
        for e in entries
        if e["name"] in folded or e["name"] == exclude_slot
    ]
    parts: list[DataFrame] = []
    if man is not None:
        parts.append(_read_parquet(spark, _join(store_dir, man["rows_dir"])))
    if entries:
        # read the tail even when every entry is dropped — a replay that
        # excludes the store's ONLY slot must see an EMPTY frame with the
        # store's schema (the pre-batch view)
        parts.append(_exclusion_filter(_read_parquet(spark, store_dir), drop))
    df = parts[0]
    for extra in parts[1:]:
        df = df.unionByName(extra)
    return df


def read_delta_store(
    spark: SparkSession, store_dir: str, *, exclude_slot: str | None = None
) -> DataFrame:
    """The store's current UNFOLDED delta rows — consolidated rows (if a
    compaction manifest exists) plus every live slot — with `exclude_slot`
    (a slot name like 'tag=batch-7' or 'batch_id=7') dropped: the replay
    seam. Callers apply their own associative fold on top; with no
    manifest this is exactly one recursive parquet read. A missing store
    raises the engine's own PATH_NOT_FOUND AnalysisException (use
    `DeltaStoreSpec.read` where a missing store means first ingest).

    Raises CompactedSlotReplayError if the excluded slot was already
    folded, and DeltaStoreModeError if slot exclusion is requested while
    loose (slot-less) appended files exist (ADVICE r15)."""
    df = _read_log(spark, store_dir, exclude_slot)
    return _read_parquet(spark, store_dir) if df is None else df


def _count_data_files(spark: SparkSession, store_dir: str) -> int:
    """Visible (non-hidden-path) data files under the store — what a
    reader's file index must list; the cost metric compaction exists to
    shrink."""
    fs, P = _hfs(spark, store_dir)
    if not fs.exists(P(store_dir)):
        return 0
    n = 0
    stack = [P(store_dir)]
    while stack:
        d = stack.pop()
        for st in fs.listStatus(d):
            name = st.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue
            if st.isFile():
                n += 1
            else:
                stack.append(st.getPath())
    return n


def _fold(log: DataFrame, key_cols: list[str], agg: list[tuple[str, str]]) -> DataFrame:
    """The associative fold of delta rows: groupBy(key_cols) with `agg`,
    or — agg=[] — DISTINCT over key_cols (every column when key_cols is
    empty too: the set store, whose rows are facts without counts)."""
    if agg:
        return log.groupBy(*key_cols).agg(
            *[_AGG_FNS[fn](c).alias(c) for c, fn in agg]
        )
    return (log.select(*key_cols) if key_cols else log).distinct()


def _publish_manifest(spark: SparkSession, store_dir: str, manifest: dict) -> None:
    """Write `_compactions/<gen>.json` via tmp + atomic rename — the single
    visibility switch of a compaction."""
    gen = manifest["gen"]
    cdir = _join(store_dir, _COMPACTIONS)
    fs, P = _hfs(spark, cdir)
    fs.mkdirs(P(cdir))
    tmp = P(_join(cdir, f".tmp_{gen:08d}.json"))
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(manifest).encode("utf-8")))
    finally:
        out.close()
    dst = P(_join(cdir, f"{gen:08d}.json"))
    if fs.exists(dst) or not fs.rename(tmp, dst):
        fs.delete(tmp, False)
        raise RuntimeError(
            f"concurrent compaction detected at {store_dir!r} gen {gen} — "
            "compaction is single-maintainer by contract"
        )


def compact_delta_store(
    spark: SparkSession,
    store_dir: str,
    *,
    key_cols: list[str],
    agg: list[tuple[str, str]],
    keep_slots: int = 1,
    protect_slots: tuple[str, ...] = (),
    vacuum: bool = True,
    num_files: int | None = None,
) -> dict:
    """Fold all committed slots of the delta-log store at `store_dir` into
    one consolidated hidden slot and publish the manifest. `agg` is the
    family's fold, [(col, 'sum'|'min'|'max'), ...] — the same associative
    aggregate its readers apply, so reads before and after are bit-equal
    under any batch slicing; agg=[] is the set fold (DISTINCT over
    key_cols, or over every column when key_cols is empty). `keep_slots`
    newest slots (by FS mtime) stay unfolded for the in-flight replay
    seam; `protect_slots` names more.

    Protocol (crash-safe at every step boundary):
      1. write fold(prev consolidated + candidate slots) to the hidden
         `_compacted/<gen>` dir — invisible to readers; a crash here
         leaves an orphan the next attempt overwrites;
      2. publish `_compactions/<gen>.json` via tmp + atomic rename — the
         single visibility switch (the checkpoint_versioned discipline);
      3. vacuum the folded slot files (readers already exclude them by
         name, so a partial vacuum is harmless).

    Returns {"gen", "slots_folded", "slots_live", "data_files_before",
    "data_files_after"}; slots_folded=0 means nothing to fold (no-op;
    gen=0 as well when the store was never compacted)."""
    if keep_slots < 0:
        raise ValueError("keep_slots must be >= 0")
    for _c, fn in agg:
        if fn not in _AGG_FNS:
            raise ValueError(f"unknown agg fn {fn!r}; pick from {sorted(_AGG_FNS)}")
    entries = _root_entries(spark, store_dir)
    if entries is None:
        return {"gen": 0, "slots_folded": 0, "slots_live": 0,
                "data_files_before": 0, "data_files_after": 0}
    files_before = _count_data_files(spark, store_dir)
    man = load_compaction_manifest(spark, store_dir)
    folded = set(man["folded"]) if man else set()
    live = sorted(
        (e for e in entries if e["name"] not in folded),
        key=lambda e: (e["mtime"], e["name"]),
    )
    protected = set(protect_slots)
    if keep_slots:
        protected.update(e["name"] for e in live[max(0, len(live) - keep_slots):])
    candidates = [e for e in live if e["name"] not in protected]
    if not candidates:
        return {"gen": man["gen"] if man else 0, "slots_folded": 0,
                "slots_live": len(live),
                "data_files_before": files_before,
                "data_files_after": files_before}
    gen = (man["gen"] + 1) if man else 1

    # 1. fold: previous consolidated rows + candidate slots, one recursive
    # read with the (small) protected/folded residue filtered out
    drop = [e for e in entries if e["name"] in folded or e["name"] in protected]
    tail = _exclusion_filter(_read_parquet(spark, store_dir), drop)
    if man is not None:
        tail = _read_parquet(spark, _join(store_dir, man["rows_dir"])).unionByName(tail)
    key_cols = list(key_cols) or tail.columns
    consolidated = _fold(tail, key_cols, agg)
    if num_files is not None:
        consolidated = consolidated.repartition(num_files, *key_cols)
    rows_dir = f"{_COMPACTED}/{gen:08d}"
    consolidated.write.mode("overwrite").parquet(_join(store_dir, rows_dir))

    # 2. publish the manifest — the atomic visibility switch
    new_folded = sorted(folded | {e["name"] for e in candidates})
    _publish_manifest(
        spark, store_dir, {"gen": gen, "folded": new_folded, "rows_dir": rows_dir}
    )

    # 3. vacuum the folded files (already invisible to readers)
    if vacuum:
        vacuum_delta_store(spark, store_dir)
    return {
        "gen": gen,
        "slots_folded": len(candidates),
        "slots_live": len(live) - len(candidates),
        "data_files_before": files_before,
        "data_files_after": _count_data_files(spark, store_dir),
    }


def vacuum_delta_store(spark: SparkSession, store_dir: str) -> int:
    """Delete folded slots (per the newest manifest) still present at the
    store root, plus superseded `_compacted/<gen>` dirs. Safe at any time
    after a manifest publish — readers exclude these names already.
    Returns the number of entries deleted."""
    man = load_compaction_manifest(spark, store_dir)
    if man is None:
        return 0
    fs, P = _hfs(spark, store_dir)
    folded = set(man["folded"])
    deleted = 0
    for st in fs.listStatus(P(store_dir)):
        if st.getPath().getName() in folded:
            fs.delete(st.getPath(), True)
            deleted += 1
    comp = _join(store_dir, _COMPACTED)
    keep = man["rows_dir"].split("/")[-1]
    if fs.exists(P(comp)):
        for st in fs.listStatus(P(comp)):
            if st.getPath().getName() != keep:
                fs.delete(st.getPath(), True)
                deleted += 1
    return deleted


@dataclass(frozen=True)
class DeltaStoreSpec:
    """One delta log's fold: `key_cols` plus an associative `agg` map
    ((col, 'sum'|'min'|'max'), ...). agg=() is the set fold — DISTINCT
    over key_cols, or over the whole row when key_cols is empty too."""

    key_cols: tuple[str, ...] = ()
    agg: tuple[tuple[str, str], ...] = ()

    def read(
        self, spark: SparkSession, store_dir: str, exclude_slot: str | None = None
    ) -> DataFrame | None:
        """Unfolded delta rows minus `exclude_slot` (read_delta_store), or
        None if the store does not exist yet (first ingest)."""
        return _read_log(spark, store_dir, exclude_slot)

    def fold(self, log: DataFrame) -> DataFrame:
        """The current state: (*key_cols, *agg cols), one row per key."""
        return _fold(log, list(self.key_cols), list(self.agg))

    def append(self, delta: DataFrame, store_dir: str, slot: str | None) -> None:
        """Write `delta` as slot `slot`, replacing that slot directory (a
        replay overwrites its own delta); loose append only when slot is
        None."""
        if slot is None:
            delta.write.mode("append").parquet(store_dir)
        else:
            delta.write.mode("overwrite").parquet(_join(store_dir, slot))

    def compact(self, spark: SparkSession, store_dir: str, **kwargs) -> dict:
        """compact_delta_store with this spec's fold (keep_slots,
        protect_slots, vacuum, num_files pass through)."""
        return compact_delta_store(
            spark, store_dir, key_cols=list(self.key_cols), agg=list(self.agg),
            **kwargs,
        )


@dataclass(frozen=True)
class DeltaStoreLogs:
    """A store made of several named delta logs, one subdirectory each
    (bigram LM: bigrams/ + tokens/; DSIR: raw/ + target/). A batch writes
    one slot of the same name into each log it touches."""

    logs: tuple[tuple[str, DeltaStoreSpec], ...]

    def compact(self, spark: SparkSession, store_dir: str, **kwargs) -> dict:
        """{log name: compaction report} — a missing log reports the gen=0
        no-op."""
        return {
            name: spec.compact(spark, _join(store_dir, name), **kwargs)
            for name, spec in self.logs
        }


def write_batch_slot(df: DataFrame, out_dir: str, batch_id: int) -> None:
    """Write a micro-batch's sink output (kept rows, monitor records) as
    the `batch_id=<n>` partition of `out_dir`, replacing only that
    partition — a replayed batch overwrites its own output instead of
    appending it twice. Read back with spark.read.parquet(out_dir);
    batch_id is an inferred partition column."""
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def ingest_to_sink(
    batch_df: DataFrame, batch_id: int, *, ingest, store_dir: str, kept_dir: str,
    **kwargs,
) -> None:
    """foreachBatch body of the ingest-then-sink families (near-dup, line
    and span dedup): `ingest` runs against the shared store with the
    micro-batch id as its slot, and its kept rows replace the batch's
    sink partition."""
    kept = ingest(
        batch_df.sparkSession, batch_df, store_dir, batch_id=batch_id, **kwargs
    )
    write_batch_slot(kept, kept_dir, batch_id)


def foreach_batch_writer(stream: DataFrame, checkpoint_dir: str, handle, **kwargs):
    """A DataStreamWriter that runs `handle(batch_df, batch_id, **kwargs)`
    per micro-batch with its offsets checkpointed at `checkpoint_dir` —
    call .trigger(...).start() to run. foreachBatch is the seam every
    store family needs: the ingest decision takes the batch as a finite
    frame (store joins, self-pairs), which pure streaming operators
    cannot express."""
    return stream.writeStream.foreachBatch(
        lambda batch_df, batch_id: handle(batch_df, batch_id, **kwargs)
    ).option("checkpointLocation", checkpoint_dir)
