"""Delta-log store compaction (operators/deltastore.py): reads must be
bit-equal before and after compaction for every store family, the replay
seam must stay intact (or fail loudly), and the crash windows between the
protocol's three steps must never change what a reader sees."""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import pytest

from etl_poc_spark.operators import deltastore
from etl_poc_spark.operators.deltastore import (
    CompactedSlotReplayError,
    DeltaStoreModeError,
    compact_delta_store,
    load_compaction_manifest,
    read_delta_store,
    tag_slot,
    vacuum_delta_store,
)


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _docs(spark, pairs):
    return spark.createDataFrame(pairs, "doc_id long, text string")


# ---------------------------------------------------------------------------
# exact-dedup store: the generic-protocol vehicle
# ---------------------------------------------------------------------------


def _ingest_exact(spark, store, docs, tag):
    from etl_poc_spark.operators.incremental import incremental_exact_dedup_ingest

    return incremental_exact_dedup_ingest(
        spark, docs, store, ["text"], batch_tag=tag
    )


# ---------------------------------------------------------------------------
# the store families, one row each: how a batch ingests, how the family
# reads its current state, and its delta logs (subdir, spec)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Family:
    name: str
    ingest: Callable  # (spark, store, batch i) -> output frame | None
    read: Callable  # (spark, store) -> sorted row tuples of the current state
    logs: tuple  # ((subdir or "", DeltaStoreSpec), ...)
    compact: Callable


def _words(i, n=12):
    return " ".join(f"w{i}_{j}" for j in range(n))


_BOILER = " ".join(f"b{i}" for i in range(10))
_TEXT_DOCS = [  # boilerplate shared across batches, plus unique text
    [(1, f"{_BOILER} {_words(1, 10)}"), (2, f"{_BOILER} {_words(2, 10)}")],
    [(3, f"{_BOILER} {_words(3, 10)}"), (4, _words(4, 10))],
    [(5, f"{_BOILER} {_words(5, 10)}"), (6, f"{_words(4, 10)} tail")],
]
_NEAR_DUP_DOCS = [
    [(1, _words(1)), (2, _words(2))],
    [(3, _words(3)), (4, _words(4))],
    # 10 duplicates stored doc 3; 13/14 are a near-pair within the batch
    [(10, _words(3)), (13, _words(13)), (14, _words(13))],
]
_EXACT_DOCS = [
    [(1, "x"), (2, "y")],
    [(3, "x"), (4, "z")],
    [(5, "w"), (6, "y"), (7, "y"), (8, "x"), (9, "u")],
]
_LM_TEXTS = [
    ["the cat sat", "the dog sat"],
    ["the cat ran", "a dog ran far"],
    ["the end", "cat and dog", "a cat sat far"],
]
_SOURCED = [  # (source, text, excess)
    [("s1", "clean text", 5), ("s2", "badword here", 9)],
    [("s1", "more badword", 0), ("s3", "plain words", 3)],
    [("s2", "clean again", 7), ("s1", "badword badword", 2), ("s3", "fine", 4)],
]


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _family_table():
    from etl_poc_spark.operators import curation, dsir, incremental, linededup, ngram_lm
    from etl_poc_spark.operators import spandedup

    def sourced(spark, i):
        return spark.createDataFrame(
            _SOURCED[i], "source string, text string, excess long"
        )

    def batch_id_ingest(fn, data):
        return lambda spark, store, i: fn(spark, _docs(spark, data[i]), store, batch_id=i)

    def dsir_ingest(spark, store, i):
        for role in ("raw", "target"):
            dsir.incremental_dsir_ingest(
                spark, sourced(spark, i), store, role=role, n_buckets=64,
                batch_tag=f"b{i}",
            )

    def folded(spec):  # stores without a family reader: the spec's own fold
        return lambda spark, store: _sorted_rows(spec.fold(read_delta_store(spark, store)))

    return [
        Family(
            "exact_dedup",
            lambda spark, store, i: incremental.incremental_exact_dedup_ingest(
                spark, _docs(spark, _EXACT_DOCS[i]), store, ["text"], batch_tag=f"b{i}"
            ),
            lambda spark, store: _sorted_rows(incremental.read_exact_dedup_store(spark, store)),
            (("", incremental.EXACT_DEDUP_STORE),),
            incremental.compact_exact_dedup_store,
        ),
        Family(
            "near_dup",
            batch_id_ingest(incremental.incremental_near_dup_ingest, _NEAR_DUP_DOCS),
            folded(incremental.NEAR_DUP_STORE),  # the DISTINCT set of postings
            (("", incremental.NEAR_DUP_STORE),),
            incremental.compact_near_dup_store,
        ),
        Family(
            "line_dedup",
            batch_id_ingest(linededup.incremental_line_dedup_ingest, _TEXT_DOCS),
            folded(linededup.LINE_DEDUP_STORE),
            (("", linededup.LINE_DEDUP_STORE),),
            linededup.compact_line_dedup_store,
        ),
        Family(
            "span_dedup",
            batch_id_ingest(spandedup.incremental_span_removal_ingest, _TEXT_DOCS),
            folded(spandedup.SPAN_STORE),
            (("", spandedup.SPAN_STORE),),
            spandedup.compact_span_store,
        ),
        Family(
            "bigram_lm",
            lambda spark, store, i: ngram_lm.incremental_bigram_lm_ingest(
                spark,
                spark.createDataFrame([(t,) for t in _LM_TEXTS[i]], "text string"),
                store,
                batch_tag=f"b{i}",
            ),
            lambda spark, store: [
                _sorted_rows(df) for df in ngram_lm.read_bigram_lm_store(spark, store)
            ],
            ngram_lm.LM_STORE.logs,
            ngram_lm.compact_bigram_lm_store,
        ),
        Family(
            "dsir",
            dsir_ingest,
            lambda spark, store: _sorted_rows(dsir.read_dsir_model(spark, store, n_buckets=64)),
            dsir.DSIR_STORE.logs,
            dsir.compact_dsir_store,
        ),
        Family(
            "doremi",
            lambda spark, store, i: curation.incremental_doremi_ingest(
                spark, sourced(spark, i), store, batch_tag=f"b{i}"
            ),
            lambda spark, store: _sorted_rows(curation.read_doremi_store(spark, store)),
            (("", curation.DOREMI_STORE),),
            curation.compact_doremi_store,
        ),
        Family(
            "badwords",
            lambda spark, store, i: curation.incremental_badwords_ingest(
                spark, sourced(spark, i), store, batch_tag=f"b{i}"
            ),
            lambda spark, store: _sorted_rows(curation.read_badwords_store(spark, store)),
            (("", curation.BADWORDS_STORE),),
            curation.compact_badwords_store,
        ),
    ]


FAMILIES = [f.name for f in _family_table()]


def _family(name):
    return next(f for f in _family_table() if f.name == name)


def _reports(fam, rep):
    """Per-log compaction reports (multi-log families return a dict)."""
    return [rep[sub] for sub, _spec in fam.logs] if len(fam.logs) > 1 else [rep]


@pytest.mark.slow
def test_multi_generation_compaction_and_vacuum(spark, tmp_path):
    from etl_poc_spark.operators.incremental import (
        compact_exact_dedup_store,
        read_exact_dedup_store,
    )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for i in range(4):
        rows = [(10 * i + j, f"t{(i + j) % 5}") for j in range(3)]
        for store in (a, b):
            _ingest_exact(spark, store, _docs(spark, rows), f"b{i}")
    r1 = compact_exact_dedup_store(spark, a)
    for i in range(4, 7):
        rows = [(10 * i + j, f"t{(i + j) % 5}") for j in range(3)]
        for store in (a, b):
            _ingest_exact(spark, store, _docs(spark, rows), f"b{i}")
    r2 = compact_exact_dedup_store(spark, a)
    assert (r1["gen"], r2["gen"]) == (1, 2)
    man = load_compaction_manifest(spark, a)
    assert man["gen"] == 2 and man["rows_dir"].endswith("00000002")
    # superseded _compacted/00000001 was vacuumed
    import os

    assert os.listdir(f"{a}/_compacted") == ["00000002"]
    cols = ("fp", "min_id", "n_copies")
    assert _rows(read_exact_dedup_store(spark, a), *cols) == _rows(
        read_exact_dedup_store(spark, b), *cols
    )


def test_crash_window_vacuum_deferred_reads_unchanged(spark, tmp_path):
    """Between manifest publish and vacuum (step 2 -> 3 crash), folded
    slots still exist on disk — readers must exclude them by name, not
    double-count. A later vacuum_delta_store changes nothing a reader
    sees."""
    from etl_poc_spark.operators.incremental import (
        compact_exact_dedup_store,
        read_exact_dedup_store,
    )

    a = str(tmp_path / "a")
    for i in range(3):
        _ingest_exact(
            spark, a, _docs(spark, [(10 * i, f"t{i}"), (10 * i + 1, "t0")]), f"b{i}"
        )
    before = _rows(read_exact_dedup_store(spark, a), "fp", "min_id", "n_copies")
    compact_exact_dedup_store(spark, a, vacuum=False)  # folds b0, b1; keeps b2
    import os

    assert {"tag=b0", "tag=b1"} <= set(os.listdir(a))  # residue present
    assert _rows(read_exact_dedup_store(spark, a), "fp", "min_id", "n_copies") == before
    assert vacuum_delta_store(spark, a) == 2
    assert {n for n in os.listdir(a) if n.startswith("tag=")} == {"tag=b2"}
    assert _rows(read_exact_dedup_store(spark, a), "fp", "min_id", "n_copies") == before


def test_replay_of_unfolded_slot_survives_compaction(spark, tmp_path):
    """keep_slots=1 protects the newest slot: replaying it after a
    compaction produces the same kept rows as the original attempt."""
    a = str(tmp_path / "a")
    from etl_poc_spark.operators.incremental import compact_exact_dedup_store

    _ingest_exact(spark, a, _docs(spark, [(1, "x"), (2, "y")]), "b0")
    b1 = _docs(spark, [(3, "x"), (4, "z")])
    kept = _ingest_exact(spark, a, b1, "b1")
    compact_exact_dedup_store(spark, a)  # folds b0 only
    replay = _ingest_exact(spark, a, b1, "b1")
    assert _rows(replay, "doc_id") == _rows(kept, "doc_id") == [(4,)]


def test_replay_of_folded_slot_raises(spark, tmp_path):
    a = str(tmp_path / "a")
    from etl_poc_spark.operators.incremental import compact_exact_dedup_store

    for i in range(3):
        _ingest_exact(spark, a, _docs(spark, [(i, f"t{i}")]), f"b{i}")
    compact_exact_dedup_store(spark, a)  # folds b0, b1
    with pytest.raises(CompactedSlotReplayError, match="tag=b0"):
        _ingest_exact(spark, a, _docs(spark, [(0, "t0")]), "b0")


def test_compaction_noops(spark, tmp_path):
    missing = compact_delta_store(
        spark, str(tmp_path / "nope"), key_cols=["k"], agg=[("n", "sum")]
    )
    assert missing["gen"] == 0 and missing["slots_folded"] == 0
    a = str(tmp_path / "a")
    _ingest_exact(spark, a, _docs(spark, [(1, "x")]), "b0")
    single = compact_delta_store(
        spark, a, key_cols=["fp"], agg=[("min_id", "min"), ("n_copies", "sum")]
    )
    assert single["slots_folded"] == 0  # keep_slots=1 protects the only slot
    with pytest.raises(ValueError, match="unknown agg fn"):
        compact_delta_store(spark, a, key_cols=["fp"], agg=[("n_copies", "avg")])
    # every family: a missing store is a gen=0 no-op, never an error
    for fam in _family_table():
        store = str(tmp_path / f"missing_{fam.name}")
        for rep in _reports(fam, fam.compact(spark, store)):
            assert rep == {"gen": 0, "slots_folded": 0, "slots_live": 0,
                           "data_files_before": 0, "data_files_after": 0}, fam.name
        assert all(spec.read(spark, store) is None for _sub, spec in fam.logs)


def test_crash_window_before_manifest_publish(spark, tmp_path, monkeypatch):
    """A crash between step 1 (the hidden `_compacted/<gen>` rows are
    written) and step 2 (the manifest publish) leaves an orphan no reader
    sees; the next compaction overwrites it and reads stay bit-equal."""
    from etl_poc_spark.operators.incremental import (
        EXACT_DEDUP_STORE,
        compact_exact_dedup_store,
        read_exact_dedup_store,
    )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for i in range(3):
        rows = [(10 * i, f"t{i}"), (10 * i + 1, "t0")]
        for store in (a, b):
            _ingest_exact(spark, store, _docs(spark, rows), f"b{i}")
    cols = ("fp", "min_id", "n_copies")
    before = _rows(read_exact_dedup_store(spark, a), *cols)

    def crash(*_args, **_kwargs):
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(deltastore, "_publish_manifest", crash)
    with pytest.raises(RuntimeError, match="crash before publish"):
        compact_exact_dedup_store(spark, a)  # folds b0, b1 into the orphan
    monkeypatch.undo()
    assert os.listdir(f"{a}/_compacted") == ["00000001"]
    assert load_compaction_manifest(spark, a) is None
    assert {"tag=b0", "tag=b1", "tag=b2"} <= set(os.listdir(a))
    assert _rows(read_exact_dedup_store(spark, a), *cols) == before

    # one more batch, then the retry: same gen, the orphan is overwritten
    # with the fold of b0..b2 (b3 is the protected tail)
    for store in (a, b):
        _ingest_exact(spark, store, _docs(spark, [(30, "t0"), (31, "t9")]), "b3")
    rep = compact_exact_dedup_store(spark, a)
    assert (rep["gen"], rep["slots_folded"], rep["slots_live"]) == (1, 3, 1)
    assert _rows(read_exact_dedup_store(spark, a), *cols) == _rows(
        read_exact_dedup_store(spark, b), *cols
    )
    orphan_overwritten = read_delta_store(spark, f"{a}/_compacted/00000001")
    folded_b0_b2 = EXACT_DEDUP_STORE.fold(read_delta_store(spark, b, exclude_slot="tag=b3"))
    assert _sorted_rows(orphan_overwritten) == _sorted_rows(folded_b0_b2)


@pytest.mark.parametrize("name", FAMILIES)
def test_store_compaction_bit_equal(spark, tmp_path, name):
    """Fold-of-folds equivalence for every family: compacting a store
    changes nothing its reader returns (set-equality for the near-dup
    postings), and an ingest landing AFTER the compaction — read from
    the consolidated rows plus the live tail — returns and stores
    exactly what it does on the never-compacted twin."""
    fam = _family(name)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for i in range(2):
        fam.ingest(spark, a, i)
    shutil.copytree(a, b)  # the never-compacted twin
    before = fam.read(spark, a)
    for rep in _reports(fam, fam.compact(spark, a, keep_slots=0)):
        assert (rep["gen"], rep["slots_folded"], rep["slots_live"]) == (1, 2, 0), name
        assert rep["data_files_after"] < rep["data_files_before"], name
    assert fam.read(spark, a) == before, name
    out_a, out_b = fam.ingest(spark, a, 2), fam.ingest(spark, b, 2)
    if out_a is not None:
        assert _sorted_rows(out_a) == _sorted_rows(out_b), name
    assert fam.read(spark, a) == fam.read(spark, b), name


@pytest.mark.parametrize("name", FAMILIES)
def test_corrupt_store_raises(spark, tmp_path, name):
    """A corrupt store must raise, not silently reset history to empty
    (the first-ingest seam only forgives a MISSING store)."""
    fam = _family(name)
    store = tmp_path / "store"
    for sub, _spec in fam.logs:
        slot = (store / sub if sub else store) / "tag=corrupt"
        slot.mkdir(parents=True)
        (slot / "part-0.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception) as ei:
        # the dedup families read history while ingesting; the count
        # stores only append, so their reader is the history read
        out = fam.ingest(spark, str(store), 0)
        if out is None:
            fam.read(spark, str(store))
        else:
            out.collect()
    assert "footer" in str(ei.value).lower()
    assert "PATH_NOT_FOUND" not in str(ei.value)


def test_tag_outside_safe_set_is_refused(spark, tmp_path):
    """Distinct tags must never share a slot: 'x/1' used to be rewritten
    to 'x_1', so its ingest overwrote the 'x_1' batch's history."""
    assert tag_slot("x_1") == "tag=x_1" and tag_slot("raw-b7.2") == "tag=raw-b7.2"
    assert tag_slot(None) is None
    for bad in ("x/1", "x 1", "", "tag=x", "é"):
        with pytest.raises(ValueError, match="batch tag"):
            tag_slot(bad)
    a = str(tmp_path / "a")
    _ingest_exact(spark, a, _docs(spark, [(1, "x")]), "x_1")
    with pytest.raises(ValueError, match="batch tag"):
        _ingest_exact(spark, a, _docs(spark, [(2, "y")]), "x/1")
    assert [n for n in os.listdir(a) if not n.startswith((".", "_"))] == ["tag=x_1"]


# ---------------------------------------------------------------------------
# mode-mixing (ADVICE r15)
# ---------------------------------------------------------------------------


def test_batch_id_replay_against_loose_store_raises(spark, tmp_path):
    """A store first written with batch_id=None (loose appends) cannot
    honor a later batch_id replay exclusion — pre-fix the ingest silently
    double-counted its own prior attempt as history; now it raises."""
    from etl_poc_spark.operators.linededup import incremental_line_dedup_ingest
    from etl_poc_spark.operators.spandedup import incremental_span_removal_ingest

    text = " ".join(f"w{i}" for i in range(30))
    docs = _docs(spark, [(1, text), (2, text)])
    line_store = str(tmp_path / "lines")
    incremental_line_dedup_ingest(spark, docs, line_store)  # loose mode
    with pytest.raises(DeltaStoreModeError, match="loose"):
        incremental_line_dedup_ingest(spark, docs, line_store, batch_id=7)
    span_store = str(tmp_path / "spans")
    incremental_span_removal_ingest(spark, docs, span_store)  # loose mode
    with pytest.raises(DeltaStoreModeError, match="loose"):
        incremental_span_removal_ingest(spark, docs, span_store, batch_id=7)


def test_exclude_only_slot_reads_empty_with_schema(spark, tmp_path):
    """A replay that excludes the store's ONLY slot must see an EMPTY
    frame carrying the store schema (the pre-batch view) — the case the
    old column-filter exclusion produced naturally."""
    a = str(tmp_path / "a")
    _ingest_exact(spark, a, _docs(spark, [(1, "x")]), "b0")
    df = read_delta_store(spark, a, exclude_slot="tag=b0")
    assert df.count() == 0
    assert set(df.columns) == {"fp", "min_id", "n_copies"}


def test_read_delta_store_missing_raises_path_not_found(spark, tmp_path):
    """The families' first-ingest seam: a missing store must surface the
    engine's own PATH_NOT_FOUND AnalysisException through the helper."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException) as exc:
        read_delta_store(spark, str(tmp_path / "missing")).collect()
    assert "PATH_NOT_FOUND" in str(exc.value) or "Path does not exist" in str(
        exc.value
    )


def test_fully_compacted_store_reads_consolidated_only(spark, tmp_path):
    """keep_slots=0 folds everything; the store root then holds only
    hidden dirs and reads come entirely from the consolidated slot."""
    from etl_poc_spark.operators.incremental import (
        compact_exact_dedup_store,
        read_exact_dedup_store,
    )

    a = str(tmp_path / "a")
    for i in range(3):
        _ingest_exact(spark, a, _docs(spark, [(i, f"t{i % 2}")]), f"b{i}")
    before = _rows(read_exact_dedup_store(spark, a), "fp", "min_id", "n_copies")
    rep = compact_exact_dedup_store(spark, a, keep_slots=0)
    assert rep["slots_folded"] == 3 and rep["slots_live"] == 0
    import os

    assert all(n.startswith(("_", ".")) for n in os.listdir(a))
    assert _rows(read_exact_dedup_store(spark, a), "fp", "min_id", "n_copies") == before
    # and new ingests keep working on top of the consolidated state
    kept = _ingest_exact(spark, a, _docs(spark, [(9, "t0"), (10, "new")]), "b3")
    assert _rows(kept, "doc_id") == [(10,)]
