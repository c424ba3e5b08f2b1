"""YAML pipeline front-end: translate a DocETL-shaped config into a chained
DataFrame program (SURVEY.md §3.4, §4.3.2).

Config shape (mirroring the reference's
docetl/config/article_pipeline.yaml.j2):

    default_model: stub
    datasets:
      papers: {type: file, source: local, path: /x.json, format: json|parquet}
    operations:
      - {name: chunk, type: split, split_key: text, chunk_size: 40, chunk_overlap: 10}
      - {name: extract, type: map, prompt: "... {{ input.text }} ...",
         output_schema: {title: string, ...}, validate: ["len(output['title']) > 0"],
         num_retries_on_validate_failure: 2}
      - {name: synthesize, type: reduce, reduce_key: doc_id, prompt: "...",
         output_schema: {...}}
      - {name: keep_good, type: filter, condition: "wc > 200"}   # engine extension
    pipeline:
      steps: [{name: s1, input: papers, operations: [chunk, extract]}]
      output: {type: file, path: /out, intermediate_dir: /tmp/int}

Every op `type` is one builder in the `_OPS` table below, registered with
`@_op(type, **params)`: the params declare every YAML key the op takes
and its default (`_resolve` states the grammar), and the builder reads
only the resolved `p[key]`. Beyond the reference's split/map/reduce the
engine adds a relational, curation, selection/mixing and analytics
vocabulary. The analytics builders call the same operators/behavior.py
functions as the registered queries.

A config may instead declare a `streaming:` block to run one of the
continuous operators over a landing-zone source — see
run_streaming_pipeline for the shape and the `_STREAM_OPS` table, whose
`@_stream_op` declarations take the same grammar, for the ops and their
keys.

Static validation mirrors the reference's DocETLOperator checks
(airflow/plugins/docetl_operator.py:126-158): default_model present,
non-empty operations, each op has name/type, every type is a key of the
op table, and every op's keys resolve against its declaration (no
unknown key, every required key set, every typed value coercible) —
all checked before any dataset loads.

Execution is lazy DataFrame chaining; `intermediate_dir` opts into
per-step parquet checkpoints (S8) — the scale-friendly equivalent of the
reference's per-op JSON intermediates.
"""

from __future__ import annotations

import copy
import inspect
import os
from collections.abc import Callable, Mapping
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_poc_spark.functions.text import word_count
from etl_poc_spark.llm.ops import llm_map, llm_reduce
from etl_poc_spark.llm.provider import LLMProvider, StubProvider
from etl_poc_spark.operators.chunker import chunk_by_tokens
from etl_poc_spark.plans.schema_grammar import to_struct_type


class PipelineConfigError(ValueError):
    pass


class _Required:
    """`REQUIRED` marks a key that must be set (not null or ""); `REQUIRED(int)`
    also coerces the value."""

    def __init__(self, coerce: Callable[[Any], Any] | None = None) -> None:
        self.coerce = coerce

    def __call__(self, coerce: Callable[[Any], Any]) -> _Required:
        return _Required(coerce)


REQUIRED = _Required()


def _resolve(
    kind: str, name: Any, spec: Mapping[str, Any], params: Mapping[str, Any]
) -> dict[str, Any]:
    """Check an op's mapping against its declaration `spec` and return
    every declared key's value. A declaration maps a YAML key to:
      - `REQUIRED` or `REQUIRED(type)`: the key must be set;
      - a type (`int`, `float`, `str`): optional, coerced by the type;
      - None: optional, passed as given;
      - a bool/int/float/str default, whose type coerces a set value;
      - a list/tuple/dict default, which also stands in for an empty
        value; a set value passes as given.
    A null value counts as unset: the default, else None.
    An unknown key, a missing required key or a value its type cannot
    coerce raises PipelineConfigError."""
    known = ", ".join(sorted(spec))
    unknown = sorted(set(params) - set(spec))
    if unknown:
        raise PipelineConfigError(
            f"{kind} {name!r}: unknown key(s) {unknown} (known: {known})"
        )
    out: dict[str, Any] = {}
    for key, decl in spec.items():
        value = params.get(key)
        if isinstance(decl, _Required):
            if value is None or value == "":
                raise PipelineConfigError(
                    f"{kind} {name!r} requires {key!r} (known: {known})"
                )
            coerce = decl.coerce
        elif decl is None or isinstance(decl, type):
            coerce = decl
        elif isinstance(decl, (list, tuple, dict)):
            value, coerce = value or copy.copy(decl), None
        else:
            value, coerce = (decl, None) if value is None else (value, type(decl))
        if value is not None and coerce is not None:
            try:
                value = coerce(value)
            except (TypeError, ValueError):
                raise PipelineConfigError(
                    f"{kind} {name!r}: {key!r} must be {coerce.__name__}, "
                    f"got {value!r} (known: {known})"
                ) from None
        out[key] = value
    return out


@dataclass(frozen=True)
class _OpContext:
    """What a builder sees besides its input frame and resolved params."""

    p: dict[str, Any]
    provider: LLMProvider
    frames: Mapping[str, DataFrame]

    def frame(self, ref_key: str) -> DataFrame:
        # ops with a SECOND input (join/pit_join) name another dataset or
        # an already-completed step; linear steps stay the common case
        name = self.p[ref_key]
        if name not in self.frames:
            raise PipelineConfigError(
                f"op {self.p['name']!r}: unknown frame {name!r} "
                f"for {ref_key!r} (must be a dataset or an earlier step)"
            )
        return self.frames[name]


@dataclass(frozen=True)
class _Registered:
    """One `_OPS` or `_STREAM_OPS` entry: its builder and its declared
    params (YAML key -> default, the `_resolve` grammar)."""

    build: Callable[..., Any]
    params: Mapping[str, Any]


_Builder = Callable[[DataFrame, dict[str, Any], _OpContext], DataFrame]
_OPS: dict[str, _Registered] = {}
_STREAM_OPS: dict[str, _Registered] = {}
# keys every batch op accepts: `optimize` is the reference's per-op opt-in
# to DocETL's plan optimizer (SURVEY §2.9 L9), a no-op here by design
_ANY_OP = {"name": None, "type": None, "optimize": None}


def _register(
    table: dict[str, _Registered], name: str, params: dict[str, Any]
) -> Callable[[Callable], Callable]:
    def deco(fn: Callable) -> Callable:
        if name in table:
            raise ValueError(f"duplicate op {name!r}")
        table[name] = _Registered(fn, params)
        return fn

    return deco


def _op(op_type: str, **params: Any) -> Callable[[_Builder], _Builder]:
    """Register the builder of one op type with its declared params (the
    registry.@query idiom); the builder is called as (df, p, ctx)."""
    return _register(_OPS, op_type, params)


def _resolve_op(op: Mapping[str, Any]) -> dict[str, Any]:
    """The one reader of a raw op mapping: its name and type, then its
    keys resolved against the type's declaration."""
    for key in ("name", "type"):
        if not op.get(key):
            raise PipelineConfigError(f"operation missing required key {key!r}: {op}")
    entry = _OPS.get(op["type"])
    if entry is None:
        raise PipelineConfigError(
            f"operation {op['name']!r} has unknown type {op['type']!r} "
            f"(known: {', '.join(sorted(_OPS))})"
        )
    return _resolve(f"{op['type']} operation", op["name"], {**_ANY_OP, **entry.params}, op)


def validate_config(config: dict[str, Any]) -> None:
    if not isinstance(config, dict):
        raise PipelineConfigError("config must be a mapping")
    if not config.get("default_model"):
        raise PipelineConfigError("missing required key: default_model")
    ops = config.get("operations")
    if not ops:
        raise PipelineConfigError("operations must be a non-empty list")
    known = {_resolve_op(op)["name"] for op in ops}
    pipeline = config.get("pipeline") or {}
    steps = pipeline.get("steps")
    if not steps:
        raise PipelineConfigError("pipeline.steps must be a non-empty list")
    datasets = set(config.get("datasets") or {})
    # a step may only consume a dataset or a STRICTLY EARLIER step — steps
    # execute in order, so a self/forward reference would pass a same-set
    # check here and then KeyError at execution time
    earlier_steps: set[str] = set()
    for step in steps:
        if step.get("input") not in datasets and step.get("input") not in earlier_steps:
            raise PipelineConfigError(
                f"step {step.get('name')!r} references unknown input {step.get('input')!r} "
                f"(inputs must name a dataset or an earlier step)"
            )
        earlier_steps.add(step.get("name"))
        for op_name in step.get("operations", []):
            if op_name not in known:
                raise PipelineConfigError(f"step {step.get('name')!r} references unknown operation {op_name!r}")


_EXT_FORMATS = {".parquet": "parquet", ".csv": "csv", ".orc": "orc", ".jsonl": "jsonl"}


def _load_dataset(spark: SparkSession, spec: dict[str, Any]) -> DataFrame:
    path = spec["path"]
    fmt = spec.get("format")
    if not fmt:
        ext = os.path.splitext(str(path))[1]
        fmt = _EXT_FORMATS.get(ext, "json")
    if fmt == "json":  # one JSON array/object per file (reference S4 shape)
        return spark.read.option("multiLine", True).json(path)
    if fmt == "jsonl":  # JSON-lines, the splittable scale format
        return spark.read.json(path)
    if fmt == "csv":
        return (
            spark.read.option("header", spec.get("header", True))
            .option("inferSchema", spec.get("infer_schema", True))
            .csv(path)
        )
    if fmt in ("parquet", "orc"):
        return spark.read.format(fmt).load(path)
    if fmt == "binaryFile":
        return spark.read.format("binaryFile").load(path)
    raise PipelineConfigError(f"unknown dataset format {fmt!r}")


def _apply_op(
    df: DataFrame,
    op: dict[str, Any],
    provider: LLMProvider,
    frames: Mapping[str, DataFrame] | None = None,
) -> DataFrame:
    p = _resolve_op(op)
    return _OPS[p["type"]].build(df, p, _OpContext(p, provider, frames or {}))


# the keys most document and event ops share, with their defaults
_DOC = dict(id="doc_id", text_key="text")
_EVENT = dict(entity_key="user_id", ts_key="ts")


# --- the reference's vocabulary (split / map / reduce) plus relational ops ---


@_op("join", right=REQUIRED, on=None, how="inner", broadcast=False)
def _join(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # relational join against another dataset/step; `on` is a list of
    # column names (equi) or a SQL condition string
    right = ctx.frame("right")
    if p["broadcast"]:
        right = F.broadcast(right)
    on = p["on"]
    return df.join(right, F.expr(on) if isinstance(on, str) else on, p["how"])


@_op("scd2", keys=["doc_id"], attrs=REQUIRED, ts_key="ts", tiebreak=())
def _scd2(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # change-log -> SCD2 validity episodes (operators/scd.py)
    from etl_poc_spark.operators.scd import scd2_from_changes

    return scd2_from_changes(
        df,
        key_cols=p["keys"],
        attr_cols=p["attrs"],
        ts_col=p["ts_key"],
        tiebreak_cols=tuple(p["tiebreak"]),
    )


@_op("pit_join", history=REQUIRED, keys=["doc_id"], ts_key="ts", attrs=REQUIRED)
def _pit_join(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # point-in-time attribute lookup against an SCD2 history frame
    from etl_poc_spark.operators.scd import pit_join

    return pit_join(
        df,
        ctx.frame("history"),
        key_cols=p["keys"],
        fact_ts_col=p["ts_key"],
        attr_cols=p["attrs"],
    )


# `preserve_metadata` is the reference's split flag (SURVEY §2.9 L1),
# accepted as a no-op: chunk_by_tokens always carries every column
@_op("split", split_key="text", chunk_size=40, chunk_overlap=10, preserve_metadata=None)
def _split(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    return chunk_by_tokens(
        df,
        text_col=p["split_key"],
        chunk_size=p["chunk_size"],
        chunk_overlap=p["chunk_overlap"],
    )


_LLM = dict(prompt=REQUIRED, output_schema={}, validate=(), num_retries_on_validate_failure=2)


@_op("map", **_LLM)
def _map(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    return llm_map(
        df,
        prompt_template=p["prompt"],
        output_schema=to_struct_type(p["output_schema"]),
        provider=ctx.provider,
        validators=tuple(p["validate"]),
        max_retries=p["num_retries_on_validate_failure"],
    )


@_op("reduce", reduce_key=["doc_id"], text_key="chunk_text", order_key="chunk_id", **_LLM)
def _reduce(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # reduce_key: one column name or a list of them
    key = p["reduce_key"]
    return llm_reduce(
        df,
        group_cols=key if isinstance(key, list) else [key],
        prompt_template=p["prompt"],
        output_schema=to_struct_type(p["output_schema"]),
        provider=ctx.provider,
        text_col=p["text_key"],
        order_col=p["order_key"],
        validators=tuple(p["validate"]),
        max_retries=p["num_retries_on_validate_failure"],
    )


@_op("filter", condition=REQUIRED)
def _filter(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # condition: a SQL predicate
    return df.filter(p["condition"])


@_op("select", columns=REQUIRED)
def _select(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # columns: SQL expressions
    return df.selectExpr(*p["columns"])


# --- curation vocabulary (engine extension; composes the operators a
# training-data pipeline needs into the same declarative surface) ---


@_op("exact_dedup", keys=["text"], id="doc_id", quality_key=None)
def _exact_dedup(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # keep the minimum-id row per duplicate group — deterministic
    # representative, unlike dropDuplicates. With `quality_key` the
    # survivor is instead the HIGHEST-quality copy (min-id ties) — the
    # RefinedWeb/FineWeb-style retention policy (dedup.keep_best_per_group; r14)
    key_cols = p["keys"]
    id_col = p["id"]
    quality_key = p["quality_key"]
    if quality_key:
        from etl_poc_spark.operators.dedup import keep_best_per_group

        if len(key_cols) == 1:
            return keep_best_per_group(df, key_cols[0], quality_key, id_col)
        # injective multi-key fingerprint: concat_ws SKIPS null columns,
        # so ('a\x1fb', NULL) and ('a','b') would collide and NULL would
        # conflate with empty — diverging from exact_dedup's groupBy
        # semantics (NULL is its own group). Length-prefix each column
        # and encode NULL as a distinct token so no two key tuples map
        # to the same string (ADVICE r14).
        parts = [
            F.when(F.col(c).isNull(), F.lit("\x00")).otherwise(
                F.concat(
                    F.length(F.col(c).cast("string")).cast("string"),
                    F.lit(":"),
                    F.col(c).cast("string"),
                )
            )
            for c in key_cols
        ]
        fp = F.md5(F.concat_ws("\x1f", *parts))
        return keep_best_per_group(
            df.withColumn("__fp", fp), "__fp", quality_key, id_col
        ).drop("__fp")
    reps = df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))
    return df.join(reps, key_cols + [id_col], "left_semi")


@_op("near_dedup", **_DOC, shingle_words=3, n_hashes=8, rows_per_band=2,
     max_bucket_size=200, quality_key=None)
def _near_dedup(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    from etl_poc_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_signatures,
        near_dup_keep_best,
        shingle_sets,
    )

    id_col = p["id"]
    sets = shingle_sets(df, id_col, p["text_key"], p["shingle_words"])
    sigs = minhash_signatures(sets, id_col, n_hashes=p["n_hashes"], hash_mode="xxhash64")
    pairs = lsh_candidate_pairs(
        sigs, id_col, p["rows_per_band"], max_bucket_size=p["max_bucket_size"]
    )
    if p["quality_key"]:
        # RefinedWeb-style retention (r15): each near-dup cluster keeps
        # its HIGHEST-quality member, not the min-id star root
        return near_dup_keep_best(
            df, pairs.select("id_a", "id_b"), p["quality_key"], id_col
        )
    comps = connected_components(pairs)
    drop = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


@_op("quality_filter", **_DOC)
def _quality_filter(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # keep the Gopher-rule survivors
    from etl_poc_spark.operators.curation import gopher_flags

    id_col = p["id"]
    keep_ids = gopher_flags(df, id_col, p["text_key"]).filter(F.col("keep")).select(id_col)
    return df.join(keep_ids, id_col, "left_semi")


@_op("c4_filter", **_DOC, min_words_per_line=5, min_lines=2)
def _c4_filter(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # C4-style line-level cleaning (curation.c4_line_filter): the text
    # column is REPLACED by the surviving lines and documents with too
    # few survivors drop — a map-only pass, no shuffle
    from etl_poc_spark.operators.curation import c4_line_filter

    text_col = p["text_key"]
    out = c4_line_filter(
        df,
        id_col=p["id"],
        text_col=text_col,
        min_words_per_line=p["min_words_per_line"],
        min_lines=p["min_lines"],
    )
    return out.withColumn(text_col, F.col("clean_text")).drop(
        "clean_text", "n_lines", "n_kept_lines"
    )


@_op("badwords_filter", badwords=None, text_key="text")
def _badwords_filter(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # C4's document-level badwords drop (curation.c4_badwords_filter): any
    # document containing a banned word/phrase is removed — the
    # page-level complement of c4_filter's line cleaning. `badwords`
    # overrides the neutral placeholder default (production supplies its
    # own list; the public LDNOOBW content is not bundled).
    from etl_poc_spark.operators.curation import (
        C4_BADWORDS_PLACEHOLDER,
        c4_badwords_filter,
    )

    badwords = p["badwords"]
    return c4_badwords_filter(
        df,
        badwords=list(C4_BADWORDS_PLACEHOLDER) if badwords is None else badwords,
        text_col=p["text_key"],
    )


@_op("lm_perplexity", **_DOC, k=1.0, max_ppl=float, reference=None)
def _lm_perplexity(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # CCNet-style LM quality gate (operators/ngram_lm.py): train the
    # bigram LM on the incoming frame itself, score every document; with
    # `max_ppl` set, docs above it drop (docs too short to score — under
    # two words — are kept: no evidence either way); without it the
    # scores attach as columns for a downstream threshold.
    from etl_poc_spark.operators.ngram_lm import perplexity_filter

    id_col = p["id"]
    scores = perplexity_filter(
        df,
        id_col=id_col,
        text_col=p["text_key"],
        k=p["k"],
        # `reference`: train on a held-out/high-quality dataset or an
        # earlier step instead of the incoming frame (CCNet setup)
        reference=ctx.frame("reference") if p["reference"] else None,
    )
    if p["max_ppl"] is not None:
        bad = scores.filter(F.col("ppl") > p["max_ppl"]).select(id_col)
        return df.join(bad, id_col, "left_anti")
    return df.join(scores, id_col, "left")


# --- selection vocabulary (engine extension, round 12) ---


@_op("dsir_select", **_DOC, n_buckets=1024, k=int, seed="dsir",
     target=None, target_where=str, store_dir=str)
def _dsir_select(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # DSIR data selection (arXiv:2302.03169, operators/dsir.py): weight
    # every doc by the hashed-n-gram log-likelihood ratio toward a TARGET
    # corpus — `target:` names a dataset/earlier step (the paper's
    # curated-corpus setup) or `target_where:` is a SQL predicate over the
    # incoming frame (target-as-subset). With `k` set, Gumbel top-k
    # resamples k docs WITHOUT replacement with probability ∝ exp(log w)
    # (semi join back, rows untouched); without it the (n_features,
    # log_weight) columns attach for a downstream threshold.
    from etl_poc_spark.operators.dsir import dsir_log_weights, dsir_resample

    id_col = p["id"]
    text_col = p["text_key"]
    nb = p["n_buckets"]
    if p["store_dir"]:
        # score against the PERSISTED raw/target models (maintained by
        # the dsir_counts / dsir_monitor streaming ops) — selection
        # composes with continuous model maintenance
        from etl_poc_spark.operators.dsir import score_dsir_store

        w = score_dsir_store(
            df.sparkSession, df, p["store_dir"], id_col=id_col, text_col=text_col, n_buckets=nb
        )
    else:
        if p["target"]:
            tgt = ctx.frame("target")
        elif p["target_where"]:
            tgt = df.where(p["target_where"])
        else:
            raise PipelineConfigError(
                "dsir_select requires 'store_dir', 'target' (dataset/"
                "step name), or 'target_where' (SQL predicate)"
            )
        w = dsir_log_weights(df, tgt, id_col=id_col, text_col=text_col, n_buckets=nb)
    if p["k"] is not None:
        picked = dsir_resample(w, p["k"], id_col=id_col, seed=p["seed"])
        return df.join(picked.select(id_col), id_col, "left_semi")
    return df.join(w, id_col, "left")


def _weight(p: dict[str, Any]) -> Column:
    # per-row sampling mass: the integer `weight_key` column, else the
    # whitespace token count of `text_key`
    if p["weight_key"]:
        return F.col(p["weight_key"]).cast("long")
    return word_count(F.col(p["text_key"])).cast("long")


def _stratum_totals(df: DataFrame, p: dict[str, Any], strat: str) -> DataFrame:
    # (__s, __n): per-stratum total mass; strata with no positive total
    # (zero/null weights only) carry no sampling mass and are left out
    return (
        df.select(F.col(strat).alias("__s"), _weight(p).alias("__w"))
        .groupBy("__s")
        .agg(F.sum("__w").alias("__n"))
        .where(F.col("__n") > 0)
    )


def _join_rates(df: DataFrame, rates: DataFrame, strat: str) -> DataFrame:
    # the mix ops' rate lookup: a broadcast join of the ≤n_strata-row
    # (__s, __rate) frame, NULL-SAFE on the stratify key so null-keyed
    # strata mix like any other; rows of a stratum absent from `rates`
    # get a null rate, which every keep decision treats as "drop" — they
    # are not silently passed through
    return df.join(F.broadcast(rates), df[strat].eqNullSafe(rates["__s"]), "left")


# the sampling mass of temperature_mix, unimax_mix and pps_sample (_weight)
_MASS = dict(_DOC, weight_key=None)


@_op("temperature_mix", stratify_key="source", tau=0.5, **_MASS, salt="mix")
def _temperature_mix(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # temperature-flattened mixing (arXiv:1901.07291 §3.1): realized
    # per-stratum sampling mass follows n^tau by downsampling with
    # keep-rate ∝ n^(tau-1), normalized so the most-boosted stratum
    # keeps 100% (tau<1: smallest stratum; tau>1: largest). The keep
    # decision is the 52-bit md5 hash_uniform on id (dsir_resample's
    # engine-portable draw — realized fractions track the computed rate
    # to double precision, not whole percents).
    from etl_poc_spark.operators.curation import hash_uniform, max_normalized_rates

    strat = p["stratify_key"]
    tau = p["tau"]
    if tau <= 0:
        raise PipelineConfigError("temperature_mix: tau must be > 0")
    rates = max_normalized_rates(
        _stratum_totals(df, p, strat),
        "__s",
        F.pow(F.col("__n").cast("double"), F.lit(tau - 1.0)),
    )
    u = hash_uniform(F.col(p["id"]), p["salt"])
    return _join_rates(df, rates, strat).where(u < F.col("__rate")).drop("__s", "__rate")


@_op("unimax_mix", stratify_key="source", total_budget=REQUIRED(int), max_epochs=1,
     **_MASS, salt="unimax")
def _unimax_mix(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # UniMax (arXiv:2304.09151) realized in ONE pass: compute per-stratum
    # water-filled budgets (total_budget tokens, each stratum capped at
    # max_epochs passes), then realize each stratum's budget/n_s
    # epochs-per-document as floor(r) exact copies plus one more with
    # probability frac(r) — the 52-bit md5 uniform decides, so realized
    # token mass is total_budget (not total_budget/max_epochs: an
    # epoch-capped stratum's docs are DUPLICATED max_epochs times, which
    # is what an E-epoch budget means realized as rows). With
    # max_epochs=1 this reduces to plain subsampling (r ≤ 1, no
    # duplication).
    from etl_poc_spark.operators.curation import hash_uniform, unimax_budgets

    strat = p["stratify_key"]
    budgets = unimax_budgets(
        _stratum_totals(df, p, strat), "__s", "__n", p["total_budget"], p["max_epochs"]
    )
    # r = epochs each doc of the stratum is seen, in [0, max_epochs]
    rates = budgets.select(
        "__s",
        (F.col("budget") / F.col("__n").cast("double")).alias("__rate"),
    )
    u = hash_uniform(F.col(p["id"]), p["salt"])
    copies = (
        F.floor(F.col("__rate")).cast("int")
        + F.when(u < F.col("__rate") - F.floor(F.col("__rate")), 1).otherwise(0)
    )
    return (
        _join_rates(df, rates, strat)
        .withColumn("__c", F.coalesce(copies, F.lit(0)))
        .where(F.col("__c") >= 1)
        .withColumn("__e", F.explode(F.sequence(F.lit(1), F.col("__c"))))
        .drop("__s", "__rate", "__c", "__e")
    )


@_op("doremi_mix", stratify_key="source", excess_key=REQUIRED, id="doc_id", n_steps=4,
     eta_shift=10, smoothing_shift=6, salt="doremi")
def _doremi_mix(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # DoReMi mixing (arXiv:2305.10429): solve step-averaged domain
    # weights α_d from a per-example excess-loss column (the caller's
    # proxy−reference loss, integer-scaled), then realize the mixture by
    # per-stratum keep-rates r_d ∝ α_d / n_d normalized so the
    # most-boosted stratum keeps 100% (one-pass subsampling cannot
    # upsample — the temperature_mix discipline). Realized example counts
    # track α_d; the 52-bit md5 hash_uniform decides, so realized
    # fractions follow the computed rates to double precision.
    from etl_poc_spark.operators.curation import (
        doremi_domain_weights,
        hash_uniform,
        max_normalized_rates,
    )

    strat = p["stratify_key"]
    weights = doremi_domain_weights(
        df.select(F.col(strat).alias("__s"), F.col(p["excess_key"]).alias("__e")),
        "__s",
        "__e",
        n_steps=p["n_steps"],
        eta_shift=p["eta_shift"],
        smoothing_shift=p["smoothing_shift"],
    )
    rates = max_normalized_rates(
        weights, "__s", F.col("alpha") / F.col("n_examples").cast("double")
    )
    u = hash_uniform(F.col(p["id"]), p["salt"])
    return _join_rates(df, rates, strat).where(u < F.col("__rate")).drop("__s", "__rate")


@_op("pii_redact", text_key="text")
def _pii_redact(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # rewrite the text with PII masked
    from etl_poc_spark.operators.curation import PII_PATTERNS, redact_pii

    text_col = p["text_key"]
    counters = [f"n_{name}" for name, _, _ in PII_PATTERNS]
    return (
        redact_pii(df, text_col)
        .withColumn(text_col, F.col("redacted"))
        .drop("redacted", *counters)
    )


@_op("sample", percent=10, id="doc_id", salt="sample")
def _sample(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # md5-bucket percent sample
    from etl_poc_spark.operators.curation import hash_bucket

    return df.filter(hash_bucket(F.col(p["id"]), 100, p["salt"]) < p["percent"])


@_op("line_dedup", **_DOC, words_per_segment=10, min_docs=2)
def _line_dedup(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # CCNet-style segment dedup: rewrite each doc's text with cross-doc
    # duplicated segments removed (ALL copies drop); docs that became
    # all-boilerplate keep an empty text for a later filter to judge
    from etl_poc_spark.operators.linededup import line_dedup

    id_col = p["id"]
    text_col = p["text_key"]
    deduped = line_dedup(
        df,
        id_col,
        text_col,
        words_per_segment=p["words_per_segment"],
        min_docs=p["min_docs"],
    )
    rewritten = deduped.select(id_col, F.col("dedup_text").alias("__dedup_text"))
    return (
        df.join(rewritten, id_col, "left")
        .withColumn(text_col, F.coalesce(F.col("__dedup_text"), F.col(text_col)))
        .drop("__dedup_text")
    )


@_op("semdedup", id="doc_id", embedding_key="embedding", trainer="full", n_centroids=64,
     n_iters=int, threshold=0.99, max_cluster_size=int, keep="min_id", verify="exact",
     assign="flat")
def _semdedup(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # semantic dedup over an embedding column (Abbas et al. 2023): train
    # a coarse quantizer on the incoming frame, compute exact cosine only
    # within clusters, drop one member of every pair at cosine >=
    # threshold. trainer: full (n_iters 1) | minibatch, the scale trainer
    # with constant per-iteration cost (n_iters 4; SCALING.md);
    # keep: min_id | centroid; assign: flat | two_level (O(n·sqrt(k))).
    from etl_poc_spark.operators.similarity import (
        semdedup,
        train_kmeans_centroids,
        train_kmeans_centroids_minibatch,
    )

    trainers = {
        "full": (train_kmeans_centroids, 1),
        "minibatch": (train_kmeans_centroids_minibatch, 4),
    }
    if p["trainer"] not in trainers:
        raise PipelineConfigError(
            f"semdedup trainer must be 'full' or 'minibatch', got {p['trainer']!r}"
        )
    train, n_iters = trainers[p["trainer"]]
    id_col = p["id"]
    vec_col = p["embedding_key"]
    centroids = train(
        df,
        n_centroids=p["n_centroids"],
        n_iters=n_iters if p["n_iters"] is None else p["n_iters"],
        id_col=id_col,
        vec_col=vec_col,
    )
    flags = semdedup(
        df,
        centroids,
        threshold=p["threshold"],
        max_cluster_size=p["max_cluster_size"] or None,
        id_col=id_col,
        vec_col=vec_col,
        keep=p["keep"],
        verify=p["verify"],
        assign=p["assign"],
    )
    drop = flags.filter(F.col("is_dropped")).select(id_col)
    return df.join(drop, id_col, "left_anti")


@_op("span_dedup", **_DOC, window=8, max_coverage=0.25)
def _span_dedup(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # ExactSubstr-style doc filter (Lee et al. 2021): drop documents
    # whose cross-doc duplicated-span coverage exceeds max_coverage
    from etl_poc_spark.operators.spandedup import span_coverage

    id_col = p["id"]
    cov = span_coverage(df, id_col, p["text_key"], window=p["window"])
    drop = cov.filter(F.col("dup_coverage") > p["max_coverage"]).select(id_col)
    return df.join(drop, id_col, "left_anti")


@_op("span_dedup_removal", **_DOC, window=8, keep_first=False)
def _span_dedup_removal(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # ExactSubstr's output step (Lee et al. 2021): CUT each document's
    # cross-doc duplicated spans and rewrite text in place (r15); other
    # columns pass through. keep_first retains the min-id copy.
    from etl_poc_spark.operators.spandedup import span_removal

    id_col = p["id"]
    text_col = p["text_key"]
    out = span_removal(df, id_col, text_col, window=p["window"], keep_first=p["keep_first"])
    rewritten = out.select(
        id_col, F.col("dedup_text").alias(text_col), "removed_tokens"
    )
    return df.drop(text_col).join(rewritten, id_col)


# --- event / entity vocabulary ---


@_op("funnel", steps=REQUIRED, **_EVENT, value_key="value", max_gap_seconds=int,
     rollup=False)
def _funnel(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # ordered conversion funnel (operators/funnel.py): per-entity earliest
    # qualifying time of each step, strictly ordered, with an optional
    # conversion window; rollup: true collapses to one row of step counts
    # + conversion ratios
    from etl_poc_spark.operators.funnel import (
        compile_funnel_steps,
        funnel_rollup,
        funnel_times,
    )

    # two step grammars: the PORTABLE form ({name, event_type, min_value?,
    # max_value?} — a per-row predicate any per-entity state fold can
    # evaluate) and the batch-only free-form {name, condition} SQL.
    # Mixing them in one funnel is rejected so a config either stays
    # portable wholesale or declares itself batch-only.
    has_portable = any("event_type" in s for s in p["steps"])
    has_condition = any("condition" in s for s in p["steps"])
    if has_portable and has_condition:
        raise PipelineConfigError(
            "funnel steps must be all portable (event_type [+ value "
            "bounds]) or all free-form `condition` SQL, not a mix"
        )
    if has_portable:
        steps = compile_funnel_steps(p["steps"], value_col=p["value_key"])
    else:
        steps = [(s["name"], F.expr(s["condition"])) for s in p["steps"]]
    per_entity = funnel_times(
        df,
        steps,
        entity_col=p["entity_key"],
        ts_col=p["ts_key"],
        max_gap_seconds=p["max_gap_seconds"] or None,
    )
    if p["rollup"]:
        return funnel_rollup(per_entity, [s["name"] for s in p["steps"]])
    return per_entity


@_op("debounce", keys=["user_id", "event_type"], ts_key="ts", within_seconds=120,
     tiebreak=["event_id"])
def _debounce(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # drop burst noise: events the same entity emitted within
    # `within_seconds` of its previous event (operators/funnel.py)
    from etl_poc_spark.operators.funnel import debounce

    return debounce(
        df,
        entity_cols=p["keys"],
        ts_col=p["ts_key"],
        within_seconds=p["within_seconds"],
        tiebreak_cols=tuple(p["tiebreak"]),
    )


_LINK = dict(id="doc_id", name_key="text", block_expr=REQUIRED, max_distance=1,
             max_block_size=10_000)


@_op("fuzzy_link", **_LINK)
def _fuzzy_link(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # blocked fuzzy record linkage (operators/linkage.py)
    from etl_poc_spark.operators.linkage import blocked_fuzzy_pairs

    return blocked_fuzzy_pairs(
        df,
        id_col=p["id"],
        name_col=p["name_key"],
        block=F.expr(p["block_expr"]),
        max_distance=p["max_distance"],
        max_block_size=p["max_block_size"],
    )


@_op("entity_resolution", **_LINK, output="entities")
def _entity_resolution(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # end-to-end ER (the customer_entity_groups composition as ONE
    # declarable op): blocked fuzzy pairs -> connected components ->
    # canonical entities. output: "entities" (default) returns one row per
    # resolved entity (component, representative, n_members); "annotated"
    # returns the input with an `entity_id` column — the component
    # representative, or the row's own id when nothing matched it (a
    # singleton entity).
    from etl_poc_spark.operators.dedup import (
        connected_components,
        dedup_representatives,
    )

    id_col = p["id"]
    pairs = _fuzzy_link(df, p, ctx).select("id_a", "id_b")
    output = p["output"]
    if output == "entities":
        return dedup_representatives(pairs)
    if output == "annotated":
        comps = connected_components(pairs).select(
            F.col("id").alias(id_col), F.col("component")
        )
        return (
            df.join(comps, id_col, "left")
            .withColumn("entity_id", F.coalesce(F.col("component"), F.col(id_col)))
            .drop("component")
        )
    raise PipelineConfigError(
        f"entity_resolution output must be 'entities' or 'annotated', got {output!r}"
    )


@_op("asof_join", right=REQUIRED, keys=["user_id"], ts_key="ts", right_ts_key=None,
     attrs=REQUIRED, direction="backward", tolerance_seconds=int, tiebreak=(),
     bucket_seconds=int)
def _asof_join(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # backward/forward as-of enrichment against another dataset/step
    # (operators/temporal.py — union-window carry, one key shuffle);
    # right_ts_key defaults to ts_key. `bucket_seconds` opts into the
    # hot-key-mitigated two-phase form (backward only): per-(key,
    # time-bucket) windows + a bucket-granular carry, for when one key
    # holds a task-breaking share of rows (key_skew_report is the
    # preflight; SCALING.md thresholds).
    common = dict(
        by=p["keys"],
        left_ts=p["ts_key"],
        right_ts=p["right_ts_key"] or p["ts_key"],
        right_cols=p["attrs"],
        tolerance_seconds=p["tolerance_seconds"] or None,
        tiebreak_cols=tuple(p["tiebreak"]),
    )
    if p["bucket_seconds"]:
        if p["direction"] != "backward":
            raise PipelineConfigError(
                "asof_join bucket_seconds supports direction: backward only"
            )
        from etl_poc_spark.operators.temporal import asof_join_bucketed

        return asof_join_bucketed(
            df, ctx.frame("right"), bucket_seconds=p["bucket_seconds"], **common
        )
    from etl_poc_spark.operators.temporal import asof_join

    return asof_join(df, ctx.frame("right"), direction=p["direction"], **common)


# --- analytics vocabulary (round 9): the behavioral/profiling tier of
# queries/behavior_q.py and profile_q.py as declarative
# ops — each calls the same operators/behavior.py function as its query
# and adds only its own ordering or rollup ---


@_op("transition_matrix", **_EVENT, state_key="event_type", tiebreak="event_id")
def _transition_matrix(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # first-order Markov state bigrams + conditional probability
    # (event_transition_matrix)
    from etl_poc_spark.operators.behavior import transition_matrix

    return transition_matrix(
        df, p["entity_key"], p["state_key"], p["ts_key"], p["tiebreak"]
    )


@_op("streaks", **_EVENT)
def _streaks(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # gaps-and-islands consecutive-day runs per entity (user_daily_streaks)
    from etl_poc_spark.operators.behavior import daily_streaks

    return daily_streaks(df, p["entity_key"], p["ts_key"])


@_op("profile", columns=None)
def _profile(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # long-format column profile of `columns` (default: all), plain
    # rendering (orders_column_profile)
    from etl_poc_spark.operators.behavior import column_profile

    return column_profile(df, p["columns"] or df.columns).orderBy("column_name")


@_op("attribution", **_EVENT, state_key="event_type", tiebreak="event_id",
     conversion_type="purchase", within_seconds=3600)
def _attribution(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # last-touch attribution (purchase_attribution_last_touch)
    from etl_poc_spark.operators.behavior import last_touch_attribution

    return last_touch_attribution(
        df, p["entity_key"], p["state_key"], p["ts_key"], p["tiebreak"],
        p["conversion_type"], p["within_seconds"],
    ).orderBy("channel")


@_op("rfm", **_EVENT, value_key="value", n_tiles=5, rollup=False)
def _rfm(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # recency/frequency/monetary n-tile scores per entity; rollup: true
    # collapses to (r,f,m) cell counts (customer_rfm_segments)
    from etl_poc_spark.operators.behavior import rfm_scores

    scored = rfm_scores(
        df, p["entity_key"], p["ts_key"], p["value_key"], p["n_tiles"]
    )
    if not p["rollup"]:
        return scored
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).alias("n_entities"))
        .orderBy("r_score", "f_score", "m_score")
    )


@_op("twap", **_EVENT, group_key="event_type", value_key="value", tiebreak="event_id")
def _twap(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # time-weighted average value per group (event_type_twap)
    from etl_poc_spark.operators.behavior import time_weighted_average

    group_col = p["group_key"]
    return time_weighted_average(
        df, p["entity_key"], group_col, p["ts_key"], p["value_key"], p["tiebreak"]
    ).orderBy(group_col)


@_op("abc", key="doc_id", value_key="value", a_pct=80, b_pct=95, rollup=False)
def _abc(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # ABC / Pareto classification with integer cumulative-percent cuts
    # (part_abc_classification); the rollup sums the decimal per-key
    # values and casts once at the boundary
    from etl_poc_spark.operators.behavior import abc_classes

    key = p["key"]
    a_pct = p["a_pct"]
    b_pct = p["b_pct"]
    if not 0 < a_pct < b_pct <= 100:
        raise PipelineConfigError("abc op requires 0 < a_pct < b_pct <= 100")
    classified = abc_classes(df, key, p["value_key"], a_pct, b_pct)
    if p["rollup"]:
        return (
            classified.groupBy("abc_class")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("total_value").cast("double").alias("class_value"),
            )
            .orderBy("abc_class")
        )
    return classified.select(
        key, F.col("total_value").cast("double").alias("total_value"), "abc_class"
    ).orderBy(F.desc("total_value"), F.asc(key))


@_op("grouping_sets", sets=REQUIRED, aggs={"n_rows": "COUNT(*)"})
def _grouping_sets(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # general GROUPING SETS: sets is [[col, ...], ...] with [] the grand
    # total, aggs {alias: SQL-aggregate} (segment_year_grouping_sets)
    from etl_poc_spark.operators.behavior import grouping_sets

    sets = p["sets"]
    if not isinstance(sets, list) or not sets:
        raise PipelineConfigError("grouping_sets op requires a non-empty `sets` list")
    group_cols = list(dict.fromkeys(c for s in sets for c in s))
    for c in group_cols:
        if not str(c).replace("_", "").isalnum():
            raise PipelineConfigError(f"grouping_sets: invalid column name {c!r}")
    out = grouping_sets(df, sets, [F.expr(e).alias(a) for a, e in p["aggs"].items()])
    return out.orderBy("grouping_id", *group_cols)


@_op("association_rules", basket_key=REQUIRED, item_key=REQUIRED, min_support_count=5,
     top_n=20)
def _association_rules(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # market-basket rules for the top_n pairs by count (part_association_rules)
    from etl_poc_spark.operators.behavior import association_rules

    return association_rules(
        df, p["basket_key"], p["item_key"], p["min_support_count"], p["top_n"]
    ).orderBy(F.desc("n_both"), "item_a", "item_b")


@_op("pps_sample", **_MASS, stratify_key=None, k=10)
def _pps_sample(df: DataFrame, p: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # systematic probability-proportional-to-size sampling: keep the
    # picked rows (pps_token_sample)
    from etl_poc_spark.operators.behavior import pps_systematic

    c = pps_systematic(df, _weight(p), p["id"], p["k"], p["stratify_key"])
    return c.where(F.col("__picked")).drop("__w", "__picked")


def run_pipeline(
    spark: SparkSession,
    config: dict[str, Any],
    provider: LLMProvider | None = None,
    datasets: dict[str, DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Execute the config; returns {step_name: DataFrame} with '__final__'
    aliasing the last step. `datasets` may inject pre-built DataFrames
    (overriding file specs) — used by tests and by callers composing with
    other operators."""
    validate_config(config)
    provider = provider or StubProvider()
    ops_by_name = {p["name"]: p for p in map(_resolve_op, config["operations"])}
    frames: dict[str, DataFrame] = dict(datasets or {})
    for name, spec in (config.get("datasets") or {}).items():
        if name not in frames:
            frames[name] = _load_dataset(spark, spec)

    intermediate_dir = (config.get("pipeline", {}).get("output") or {}).get("intermediate_dir")
    out: dict[str, DataFrame] = {}
    last: DataFrame | None = None
    for step in config["pipeline"]["steps"]:
        df = frames[step["input"]] if step.get("input") in frames else out[step["input"]]
        for op_name in step.get("operations", []):
            # second-input ops resolve against datasets AND completed steps
            df = _apply_op(df, ops_by_name[op_name], provider, {**frames, **out})
        if intermediate_dir:
            ckpt = os.path.join(intermediate_dir, step["name"])
            df.write.mode("overwrite").parquet(ckpt)
            df = spark.read.parquet(ckpt)
        out[step["name"]] = df
        last = df
    assert last is not None
    out["__final__"] = last
    return out


# ---------------------------------------------------------------------------
# config-declared STREAMING pipelines: the batch surface above covers the
# reference's whole DAG; this exposes the engine's continuous operators
# (the _STREAM_OPS table) to the same YAML + CLI front-end, so a config
# can declare a landing-zone tail end to end without touching library code.
# ---------------------------------------------------------------------------


def _open_stream(spark: SparkSession, spec: dict[str, Any]) -> DataFrame:
    """readStream for a streaming source spec: format 'parquet' (schema
    inferred from the existing files, `max_files_per_trigger` for
    micro-batch slicing) or 'jsonl_tail' (the Spark 4 Python streaming
    DataSource over a landing dir of immutable jsonl files; requires
    `ddl`)."""
    path = spec["path"]
    fmt = spec.get("format", "parquet")
    if fmt == "parquet":
        reader = spark.readStream.schema(spark.read.parquet(path).schema)
        if spec.get("max_files_per_trigger"):
            reader = reader.option(
                "maxFilesPerTrigger", int(spec["max_files_per_trigger"])
            )
        return reader.parquet(path)
    if fmt == "jsonl_tail":
        from etl_poc_spark.sources.jsonl_tail_datasource import (
            register_jsonl_tail_datasource,
        )

        if "ddl" not in spec:
            raise PipelineConfigError("jsonl_tail stream requires 'ddl'")
        register_jsonl_tail_datasource(spark)
        return (
            spark.readStream.format("jsonl_tail")
            .option("path", path)
            .option("ddl", spec["ddl"])
            .load()
        )
    raise PipelineConfigError(f"unknown streaming source format {fmt!r}")


_StreamBuilder = Callable[
    [SparkSession, dict[str, Any], dict[str, Any], dict[str, Any]], Callable
]
# the streaming block's own keys, and the handle kwarg of each op key
# whose name differs from its YAML key
_STREAM_BLOCK = dict(source=REQUIRED, op=REQUIRED, store_dir=REQUIRED, checkpoint_dir=REQUIRED)
_HANDLE_KWARG = {"keys": "key_cols", "id": "id_col", "text_key": "text_col",
                 "stratify_key": "domain_col", "excess_key": "excess_col"}


def _stream_op(op: str, **params: Any) -> Callable[[_StreamBuilder], _StreamBuilder]:
    """Register one streaming op with its declared keys (the @_op
    grammar, without defaults: only keys set in the block reach the
    handle, so every default lives on the handle). `build(spark, p,
    kwargs, summary)` imports and returns the foreachBatch handle,
    seeding the store first where the op has a reference corpus; `kwargs`
    holds the set keys under their handle names, and the builder pops
    the keys only it reads."""
    if not all(d is None or isinstance(d, (type, _Required)) for d in params.values()):
        raise ValueError(f"streaming op {op!r} declares a default")
    return _register(_STREAM_OPS, op, params)


def _reference_kwargs(ref: dict[str, Any], kwargs: dict[str, Any], *names: str) -> dict[str, Any]:
    """Seed kwargs of a monitor's reference corpus: the stream's `names`
    and text column, the reference's own `text_key` taking precedence."""
    out = {n: kwargs[n] for n in (*names, "text_col") if n in kwargs}
    if "text_key" in ref:
        out["text_col"] = ref["text_key"]
    return out


@_stream_op("exact_dedup", keys=REQUIRED(list), id=None, kept_dir=REQUIRED)
def _exact_dedup_stream(spark, p, kwargs, summary):
    from etl_poc_spark.operators.incremental import exact_dedup_handle_batch

    return exact_dedup_handle_batch


@_stream_op("lm_counts", text_key=None)
def _lm_counts_stream(spark, p, kwargs, summary):
    from etl_poc_spark.operators.ngram_lm import bigram_lm_handle_batch

    return bigram_lm_handle_batch


@_stream_op("dsir_counts", role=None, text_key=None, n_buckets=int)
def _dsir_counts_stream(spark, p, kwargs, summary):
    # fold each micro-batch's bucket histogram into the store under
    # `role` (raw|target — incremental_dsir_ingest rejects any other);
    # batch scoring reads it via score_dsir_store
    from etl_poc_spark.operators.dsir import dsir_handle_batch

    default = inspect.signature(dsir_handle_batch).parameters["role"].default
    summary["role"] = kwargs.get("role", default)
    return dsir_handle_batch


@_stream_op("doremi_stats", stratify_key=None, excess_key=None)
def _doremi_stats_stream(spark, p, kwargs, summary):
    # per-domain (count, clipped-excess-sum) partials; the live mixture
    # weights are doremi_store_weights over the store at any time
    from etl_poc_spark.operators.curation import doremi_handle_batch

    return doremi_handle_batch


@_stream_op("badwords_stats", badwords=None, stratify_key=None, text_key=None)
def _badwords_stats_stream(spark, p, kwargs, summary):
    # per-domain (n_docs, n_flagged, n_hits) partials of a live crawl
    # ingest; read the dashboard any time with read_badwords_store
    from etl_poc_spark.operators.curation import badwords_handle_batch

    return badwords_handle_batch


@_stream_op("dsir_monitor", monitor_dir=REQUIRED, id=None, text_key=None, n_buckets=int,
            target=REQUIRED)
def _dsir_monitor_stream(spark, p, kwargs, summary):
    # target-affinity drift monitor: `target:` (a dataset spec) seeds the
    # reference model once (tag=reference — an idempotent overwrite
    # slot), then each batch scores against it relative to the
    # accumulated raw model and folds into raw
    from etl_poc_spark.operators.dsir import (
        dsir_monitor_handle_batch,
        incremental_dsir_ingest,
    )

    tgt = kwargs.pop("target")
    tgtdf = _load_dataset(spark, tgt)
    incremental_dsir_ingest(
        spark, tgtdf, p["store_dir"], role="target", batch_tag="reference",
        **_reference_kwargs(tgt, kwargs, "n_buckets"),
    )
    summary["target_rows"] = tgtdf.count()
    summary["monitor_dir"] = p["monitor_dir"]
    return dsir_monitor_handle_batch


@_stream_op("lm_perplexity_monitor", monitor_dir=REQUIRED, id=None, text_key=None, k=float,
            reference=None)
def _lm_perplexity_monitor_stream(spark, p, kwargs, summary):
    # held-out mode: `reference:` (a dataset spec) seeds the store ONCE
    # (tag=reference, so a re-run re-seeds identically) and batches score
    # against it WITHOUT folding in (CCNet's fixed-reference quality
    # gate); without it, drift mode scores against everything so far,
    # then folds
    from etl_poc_spark.operators.ngram_lm import (
        incremental_bigram_lm_ingest,
        perplexity_monitor_handle_batch,
    )

    ref = kwargs.pop("reference", None)
    if ref is not None:
        refdf = _load_dataset(spark, ref)
        incremental_bigram_lm_ingest(
            spark, refdf, p["store_dir"], batch_tag="reference",
            **_reference_kwargs(ref, kwargs),
        )
        summary["reference_rows"] = refdf.count()
    kwargs["fold"] = ref is None
    summary["mode"] = "held_out" if ref is not None else "drift"
    summary["monitor_dir"] = p["monitor_dir"]
    return perplexity_monitor_handle_batch


def run_streaming_pipeline(
    spark: SparkSession, config: dict[str, Any], timeout_seconds: float = 600.0
) -> dict[str, Any]:
    """Run the config's `streaming:` block to completion of the available
    data (availableNow trigger — the batch-boundary-exact mode every
    continuous op here is replay-tested under) and return a summary.

    The block holds `source` ({path, format: parquet|jsonl_tail, ddl?,
    max_files_per_trigger?}), `op`, `store_dir`, `checkpoint_dir`, and
    the op's keys declared in the `_STREAM_OPS` table above. The block is
    resolved like a batch op: an unknown op or key, a missing required
    key or a bad-typed value is rejected before the source is opened or
    anything is written.
    """
    spec = config.get("streaming")
    if not isinstance(spec, dict):
        raise PipelineConfigError("streaming config requires a 'streaming' mapping")
    op = spec.get("op")
    entry = _STREAM_OPS.get(op)
    if entry is None:
        raise PipelineConfigError(
            f"unknown streaming op {op!r} (known: {', '.join(sorted(_STREAM_OPS))})"
        )
    p = _resolve("streaming op", op, {**_STREAM_BLOCK, **entry.params}, spec)
    kwargs = {_HANDLE_KWARG.get(k, k): p[k] for k in entry.params if p[k] is not None}
    stream = _open_stream(spark, p["source"])
    store_dir = p["store_dir"]
    summary: dict[str, Any] = {"op": op, "store_dir": store_dir}
    handle = entry.build(spark, p, kwargs, summary)

    from etl_poc_spark.operators.deltastore import foreach_batch_writer

    writer = foreach_batch_writer(
        stream, p["checkpoint_dir"], handle, store_dir=store_dir, **kwargs
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(timeout_seconds)
    summary["stream_stopped"] = not q.isActive
    if q.isActive:
        # availableNow did not drain within the budget: the stop lands
        # mid-ingest, so the run is PARTIAL. Flag it loudly — automation
        # reading only the exit code must not mistake this for success.
        import sys as _sys

        q.stop()
        summary["timed_out"] = True
        print(
            f"WARNING: streaming pipeline did not complete within "
            f"{timeout_seconds}s; stopped mid-ingest (partial state)",
            file=_sys.stderr,
        )
    return summary
