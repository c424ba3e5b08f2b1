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
`@_op(type)`; each builder's comment names its params. Beyond the
reference's split/map/reduce the engine adds a relational, curation,
selection/mixing and analytics vocabulary. The analytics builders call
the same operators/behavior.py functions as the registered queries.

A config may instead declare a `streaming:` block (round 11) to run one
of the continuous operators over a landing-zone source — see
run_streaming_pipeline for the shape (ops: exact_dedup, lm_counts,
lm_perplexity_monitor incl. the held-out `reference:` mode, and
dsir_counts for continuous DSIR model maintenance).

Static validation mirrors the reference's DocETLOperator checks
(airflow/plugins/docetl_operator.py:126-158): default_model present,
non-empty operations, each op has name/type (+prompt for LLM ops), and
every type is a key of the op table — checked before any dataset loads.

Execution is lazy DataFrame chaining; `intermediate_dir` opts into
per-step parquet checkpoints (S8) — the scale-friendly equivalent of the
reference's per-op JSON intermediates.
"""

from __future__ import annotations

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

LLM_OP_TYPES = {"map", "reduce"}


class PipelineConfigError(ValueError):
    pass


@dataclass(frozen=True)
class _OpContext:
    """What a builder sees besides its input frame and op mapping."""

    op: dict[str, Any]
    provider: LLMProvider
    frames: Mapping[str, DataFrame]

    def frame(self, ref_key: str) -> DataFrame:
        # ops with a SECOND input (join/pit_join) name another dataset or
        # an already-completed step; linear steps stay the common case
        name = self.op[ref_key]
        if name not in self.frames:
            raise PipelineConfigError(
                f"op {self.op.get('name', self.op['type'])!r}: unknown frame {name!r} "
                f"for {ref_key!r} (must be a dataset or an earlier step)"
            )
        return self.frames[name]


_Builder = Callable[[DataFrame, dict[str, Any], _OpContext], DataFrame]
_OPS: dict[str, _Builder] = {}


def _op(op_type: str) -> Callable[[_Builder], _Builder]:
    """Register the builder of one op type (the registry.@query idiom)."""

    def deco(fn: _Builder) -> _Builder:
        if op_type in _OPS:
            raise ValueError(f"duplicate operation type {op_type!r}")
        _OPS[op_type] = fn
        return fn

    return deco


def validate_config(config: dict[str, Any]) -> None:
    if not isinstance(config, dict):
        raise PipelineConfigError("config must be a mapping")
    if not config.get("default_model"):
        raise PipelineConfigError("missing required key: default_model")
    ops = config.get("operations")
    if not ops:
        raise PipelineConfigError("operations must be a non-empty list")
    for op in ops:
        for key in ("name", "type"):
            if not op.get(key):
                raise PipelineConfigError(f"operation missing required key {key!r}: {op}")
        if op["type"] not in _OPS:
            raise PipelineConfigError(
                f"operation {op['name']!r} has unknown type {op['type']!r} "
                f"(known: {', '.join(sorted(_OPS))})"
            )
        if op["type"] in LLM_OP_TYPES and not op.get("prompt"):
            raise PipelineConfigError(f"LLM operation {op['name']!r} missing required key 'prompt'")
    pipeline = config.get("pipeline") or {}
    steps = pipeline.get("steps")
    if not steps:
        raise PipelineConfigError("pipeline.steps must be a non-empty list")
    known = {op["name"] for op in ops}
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
    builder = _OPS.get(op["type"])
    if builder is None:
        raise PipelineConfigError(f"unknown operation type {op['type']!r}")
    return builder(df, op, _OpContext(op, provider, frames or {}))


# --- the reference's vocabulary (split / map / reduce) plus relational ops ---


@_op("join")
def _join(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {right, on, how: inner, broadcast?} — relational join against another
    # dataset/step; `on` is a list of column names (equi) or a SQL
    # condition string
    right = ctx.frame("right")
    if op.get("broadcast"):
        right = F.broadcast(right)
    on = op.get("on")
    return df.join(right, F.expr(on) if isinstance(on, str) else on, op.get("how", "inner"))


@_op("scd2")
def _scd2(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {keys: [doc_id], attrs, ts_key: ts, tiebreak?} — change-log -> SCD2
    # validity episodes (operators/scd.py)
    from etl_poc_spark.operators.scd import scd2_from_changes

    return scd2_from_changes(
        df,
        key_cols=op.get("keys") or ["doc_id"],
        attr_cols=op["attrs"],
        ts_col=op.get("ts_key", "ts"),
        tiebreak_cols=tuple(op.get("tiebreak") or ()),
    )


@_op("pit_join")
def _pit_join(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {history, keys: [doc_id], ts_key: ts, attrs} — point-in-time
    # attribute lookup against an SCD2 history frame
    from etl_poc_spark.operators.scd import pit_join

    return pit_join(
        df,
        ctx.frame("history"),
        key_cols=op.get("keys") or ["doc_id"],
        fact_ts_col=op.get("ts_key", "ts"),
        attr_cols=op["attrs"],
    )


@_op("split")
def _split(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {split_key: text, chunk_size: 40, chunk_overlap: 10}
    return chunk_by_tokens(
        df,
        text_col=op.get("split_key", "text"),
        chunk_size=int(op.get("chunk_size", 40)),
        chunk_overlap=int(op.get("chunk_overlap", 10)),
    )


@_op("map")
def _map(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {prompt, output_schema, validate?, num_retries_on_validate_failure: 2}
    return llm_map(
        df,
        prompt_template=op["prompt"],
        output_schema=to_struct_type(op.get("output_schema") or {}),
        provider=ctx.provider,
        validators=tuple(op.get("validate") or ()),
        max_retries=int(op.get("num_retries_on_validate_failure", 2)),
    )


@_op("reduce")
def _reduce(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {reduce_key: doc_id (or a list), prompt, output_schema,
    # text_key: chunk_text, order_key: chunk_id, validate?,
    # num_retries_on_validate_failure: 2}
    key = op.get("reduce_key", "doc_id")
    return llm_reduce(
        df,
        group_cols=key if isinstance(key, list) else [key],
        prompt_template=op["prompt"],
        output_schema=to_struct_type(op.get("output_schema") or {}),
        provider=ctx.provider,
        text_col=op.get("text_key", "chunk_text"),
        order_col=op.get("order_key", "chunk_id"),
        validators=tuple(op.get("validate") or ()),
        max_retries=int(op.get("num_retries_on_validate_failure", 2)),
    )


@_op("filter")
def _filter(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {condition: SQL predicate}
    return df.filter(op["condition"])


@_op("select")
def _select(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {columns: [SQL expression, ...]}
    return df.selectExpr(*op["columns"])


# --- curation vocabulary (engine extension; composes the operators a
# training-data pipeline needs into the same declarative surface) ---


@_op("exact_dedup")
def _exact_dedup(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {keys: [text], id: doc_id, quality_key?} — keep the minimum-id row
    # per duplicate group — deterministic representative, unlike
    # dropDuplicates. With `quality_key` the survivor is instead the
    # HIGHEST-quality copy (min-id ties) — the RefinedWeb/FineWeb-style
    # retention policy (dedup.keep_best_per_group; r14)
    key_cols = op.get("keys") or ["text"]
    id_col = op.get("id", "doc_id")
    quality_key = op.get("quality_key")
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


@_op("near_dedup")
def _near_dedup(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {id: doc_id, text_key: text, shingle_words: 3, n_hashes: 8,
    # rows_per_band: 2, max_bucket_size: 200, quality_key?}
    from etl_poc_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_signatures,
        near_dup_keep_best,
        shingle_docs,
    )

    id_col = op.get("id", "doc_id")
    text_col = op.get("text_key", "text")
    sh = shingle_docs(df, id_col, text_col, int(op.get("shingle_words", 3)))
    sigs = minhash_signatures(
        sh, id_col, n_hashes=int(op.get("n_hashes", 8)), hash_mode="xxhash64"
    )
    pairs = lsh_candidate_pairs(
        sigs, id_col, int(op.get("rows_per_band", 2)),
        max_bucket_size=int(op.get("max_bucket_size", 200)),
    )
    quality_key = op.get("quality_key")
    if quality_key:
        # RefinedWeb-style retention (r15): each near-dup cluster keeps
        # its HIGHEST-quality member, not the min-id star root
        return near_dup_keep_best(
            df, pairs.select("id_a", "id_b"), quality_key, id_col
        )
    comps = connected_components(pairs)
    drop = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


@_op("quality_filter")
def _quality_filter(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {id: doc_id, text_key: text} — keep the Gopher-rule survivors
    from etl_poc_spark.operators.curation import gopher_flags

    id_col = op.get("id", "doc_id")
    keep_ids = gopher_flags(df, id_col, op.get("text_key", "text")).filter(
        F.col("keep")
    ).select(id_col)
    return df.join(keep_ids, id_col, "left_semi")


@_op("c4_filter")
def _c4_filter(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {id: doc_id, text_key: text, min_words_per_line: 5, min_lines: 2} —
    # C4-style line-level cleaning (curation.c4_line_filter): the text
    # column is REPLACED by the surviving lines and documents with too
    # few survivors drop — a map-only pass, no shuffle
    from etl_poc_spark.operators.curation import c4_line_filter

    text_col = op.get("text_key", "text")
    out = c4_line_filter(
        df,
        id_col=op.get("id", "doc_id"),
        text_col=text_col,
        min_words_per_line=int(op.get("min_words_per_line", 5)),
        min_lines=int(op.get("min_lines", 2)),
    )
    return out.withColumn(text_col, F.col("clean_text")).drop(
        "clean_text", "n_lines", "n_kept_lines"
    )


@_op("badwords_filter")
def _badwords_filter(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {badwords?, text_key: text} — C4's document-level badwords drop
    # (curation.c4_badwords_filter): any document containing a banned
    # word/phrase is removed — the page-level complement of c4_filter's
    # line cleaning. `badwords` overrides the neutral placeholder default
    # (production supplies its own list; the public LDNOOBW content is
    # not bundled).
    from etl_poc_spark.operators.curation import (
        C4_BADWORDS_PLACEHOLDER,
        c4_badwords_filter,
    )

    return c4_badwords_filter(
        df,
        badwords=op.get("badwords", list(C4_BADWORDS_PLACEHOLDER)),
        text_col=op.get("text_key", "text"),
    )


@_op("lm_perplexity")
def _lm_perplexity(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {id: doc_id, text_key: text, k: 1.0, max_ppl?, reference?} —
    # CCNet-style LM quality gate (operators/ngram_lm.py): train the
    # bigram LM on the incoming frame itself, score every document; with
    # `max_ppl` set, docs above it drop (docs too short to score — under
    # two words — are kept: no evidence either way); without it the
    # scores attach as columns for a downstream threshold.
    from etl_poc_spark.operators.ngram_lm import perplexity_filter

    id_col = op.get("id", "doc_id")
    scores = perplexity_filter(
        df,
        id_col=id_col,
        text_col=op.get("text_key", "text"),
        k=float(op.get("k", 1.0)),
        # `reference`: train on a held-out/high-quality dataset or an
        # earlier step instead of the incoming frame (CCNet setup)
        reference=ctx.frame("reference") if op.get("reference") else None,
    )
    if op.get("max_ppl") is not None:
        bad = scores.filter(F.col("ppl") > float(op["max_ppl"])).select(id_col)
        return df.join(bad, id_col, "left_anti")
    return df.join(scores, id_col, "left")


# --- selection vocabulary (engine extension, round 12) ---


@_op("dsir_select")
def _dsir_select(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {id: doc_id, text_key: text, n_buckets: 1024, k?, seed: dsir,
    # target | target_where | store_dir} — DSIR data selection
    # (arXiv:2302.03169, operators/dsir.py): weight every doc by the
    # hashed-n-gram log-likelihood ratio toward a TARGET corpus —
    # `target:` names a dataset/earlier step (the paper's curated-corpus
    # setup) or `target_where:` is a SQL predicate over the incoming frame
    # (target-as-subset). With `k` set, Gumbel top-k resamples k docs
    # WITHOUT replacement with probability ∝ exp(log w) (semi join back,
    # rows untouched); without it the (n_features, log_weight) columns
    # attach for a downstream threshold.
    from etl_poc_spark.operators.dsir import dsir_log_weights, dsir_resample

    id_col = op.get("id", "doc_id")
    text_col = op.get("text_key", "text")
    nb = int(op.get("n_buckets", 1024))
    if op.get("store_dir"):
        # score against the PERSISTED raw/target models (maintained by
        # the dsir_counts / dsir_monitor streaming ops) — selection
        # composes with continuous model maintenance
        from etl_poc_spark.operators.dsir import score_dsir_store

        w = score_dsir_store(
            df.sparkSession,
            df,
            str(op["store_dir"]),
            id_col=id_col,
            text_col=text_col,
            n_buckets=nb,
        )
    else:
        if op.get("target"):
            tgt = ctx.frame("target")
        elif op.get("target_where"):
            tgt = df.where(str(op["target_where"]))
        else:
            raise PipelineConfigError(
                "dsir_select requires 'store_dir', 'target' (dataset/"
                "step name), or 'target_where' (SQL predicate)"
            )
        w = dsir_log_weights(
            df, tgt, id_col=id_col, text_col=text_col, n_buckets=nb
        )
    if op.get("k") is not None:
        picked = dsir_resample(
            w, int(op["k"]), id_col=id_col, seed=str(op.get("seed", "dsir"))
        )
        return df.join(picked.select(id_col), id_col, "left_semi")
    return df.join(w, id_col, "left")


def _weight(op: dict[str, Any]) -> Column:
    # per-row sampling mass: the integer `weight_key` column, else the
    # whitespace token count of `text_key`
    weight = op.get("weight_key")
    if weight:
        return F.col(weight).cast("long")
    return word_count(F.col(op.get("text_key", "text"))).cast("long")


def _stratum_totals(df: DataFrame, op: dict[str, Any], strat: str) -> DataFrame:
    # (__s, __n): per-stratum total mass; strata with no positive total
    # (zero/null weights only) carry no sampling mass and are left out
    return (
        df.select(F.col(strat).alias("__s"), _weight(op).alias("__w"))
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


@_op("temperature_mix")
def _temperature_mix(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {stratify_key: source, tau: 0.5, id: doc_id, text_key|weight_key,
    # salt: mix} — temperature-flattened mixing (arXiv:1901.07291 §3.1):
    # realized per-stratum sampling mass follows n^tau by downsampling
    # with keep-rate ∝ n^(tau-1), normalized so the most-boosted stratum
    # keeps 100% (tau<1: smallest stratum; tau>1: largest). The keep
    # decision is the 52-bit md5 hash_uniform on id (dsir_resample's
    # engine-portable draw — realized fractions track the computed rate
    # to double precision, not whole percents).
    from etl_poc_spark.operators.curation import hash_uniform, max_normalized_rates

    strat = op.get("stratify_key", "source")
    tau = float(op.get("tau", 0.5))
    if tau <= 0:
        raise PipelineConfigError("temperature_mix: tau must be > 0")
    rates = max_normalized_rates(
        _stratum_totals(df, op, strat),
        "__s",
        F.pow(F.col("__n").cast("double"), F.lit(tau - 1.0)),
    )
    u = hash_uniform(F.col(op.get("id", "doc_id")), str(op.get("salt", "mix")))
    return _join_rates(df, rates, strat).where(u < F.col("__rate")).drop("__s", "__rate")


@_op("unimax_mix")
def _unimax_mix(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {stratify_key: source, total_budget, max_epochs: 1, id: doc_id,
    # text_key|weight_key, salt: unimax} — UniMax (arXiv:2304.09151)
    # realized in ONE pass: compute per-stratum water-filled budgets
    # (total_budget tokens, each stratum capped at max_epochs passes),
    # then realize each stratum's budget/n_s epochs-per-document as
    # floor(r) exact copies plus one more with probability frac(r) — the
    # 52-bit md5 uniform decides, so realized token mass is total_budget
    # (not total_budget/max_epochs: an epoch-capped stratum's docs are
    # DUPLICATED max_epochs times, which is what an E-epoch budget means
    # realized as rows). With max_epochs=1 this reduces to plain
    # subsampling (r ≤ 1, no duplication).
    from etl_poc_spark.operators.curation import hash_uniform, unimax_budgets

    strat = op.get("stratify_key", "source")
    if "total_budget" not in op:
        raise PipelineConfigError("unimax_mix requires 'total_budget'")
    budgets = unimax_budgets(
        _stratum_totals(df, op, strat), "__s", "__n",
        int(op["total_budget"]), int(op.get("max_epochs", 1)),
    )
    # r = epochs each doc of the stratum is seen, in [0, max_epochs]
    rates = budgets.select(
        "__s",
        (F.col("budget") / F.col("__n").cast("double")).alias("__rate"),
    )
    u = hash_uniform(F.col(op.get("id", "doc_id")), str(op.get("salt", "unimax")))
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


@_op("doremi_mix")
def _doremi_mix(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {stratify_key: source, excess_key, id: doc_id, n_steps: 4,
    # eta_shift: 10, smoothing_shift: 6, salt: doremi} — DoReMi mixing
    # (arXiv:2305.10429): solve step-averaged domain weights α_d from a
    # per-example excess-loss column (the caller's proxy−reference loss,
    # integer-scaled), then realize the mixture by per-stratum keep-rates
    # r_d ∝ α_d / n_d normalized so the most-boosted stratum keeps 100%
    # (one-pass subsampling cannot upsample — the temperature_mix
    # discipline). Realized example counts track α_d; the 52-bit md5
    # hash_uniform decides, so realized fractions follow the computed
    # rates to double precision.
    from etl_poc_spark.operators.curation import (
        doremi_domain_weights,
        hash_uniform,
        max_normalized_rates,
    )

    strat = op.get("stratify_key", "source")
    excess_key = op.get("excess_key")
    if not excess_key:
        raise PipelineConfigError("doremi_mix requires 'excess_key'")
    weights = doremi_domain_weights(
        df.select(F.col(strat).alias("__s"), F.col(excess_key).alias("__e")),
        "__s",
        "__e",
        n_steps=int(op.get("n_steps", 4)),
        eta_shift=int(op.get("eta_shift", 10)),
        smoothing_shift=int(op.get("smoothing_shift", 6)),
    )
    rates = max_normalized_rates(
        weights, "__s", F.col("alpha") / F.col("n_examples").cast("double")
    )
    u = hash_uniform(F.col(op.get("id", "doc_id")), str(op.get("salt", "doremi")))
    return _join_rates(df, rates, strat).where(u < F.col("__rate")).drop("__s", "__rate")


@_op("pii_redact")
def _pii_redact(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {text_key: text} — rewrite the text with PII masked
    from etl_poc_spark.operators.curation import PII_PATTERNS, redact_pii

    text_col = op.get("text_key", "text")
    counters = [f"n_{name}" for name, _, _ in PII_PATTERNS]
    return (
        redact_pii(df, text_col)
        .withColumn(text_col, F.col("redacted"))
        .drop("redacted", *counters)
    )


@_op("sample")
def _sample(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {percent: 10, id: doc_id, salt: sample} — md5-bucket percent sample
    from etl_poc_spark.operators.curation import hash_bucket

    pct = int(op.get("percent", 10))
    salt = str(op.get("salt", "sample"))
    return df.filter(hash_bucket(F.col(op.get("id", "doc_id")), 100, salt) < pct)


@_op("line_dedup")
def _line_dedup(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {id: doc_id, text_key: text, words_per_segment: 10, min_docs: 2} —
    # CCNet-style segment dedup: rewrite each doc's text with cross-doc
    # duplicated segments removed (ALL copies drop); docs that became
    # all-boilerplate keep an empty text for a later filter to judge
    from etl_poc_spark.operators.linededup import line_dedup

    id_col = op.get("id", "doc_id")
    text_col = op.get("text_key", "text")
    deduped = line_dedup(
        df,
        id_col,
        text_col,
        words_per_segment=int(op.get("words_per_segment", 10)),
        min_docs=int(op.get("min_docs", 2)),
    )
    rewritten = deduped.select(id_col, F.col("dedup_text").alias("__dedup_text"))
    return (
        df.join(rewritten, id_col, "left")
        .withColumn(text_col, F.coalesce(F.col("__dedup_text"), F.col(text_col)))
        .drop("__dedup_text")
    )


@_op("semdedup")
def _semdedup(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {id: doc_id, embedding_key: embedding, trainer: full|minibatch,
    # n_centroids: 64, n_iters, threshold: 0.99, max_cluster_size?,
    # keep: min_id|centroid, verify: exact, assign: flat|two_level} —
    # semantic dedup over an embedding column (Abbas et al. 2023): train
    # a coarse quantizer on the incoming frame, compute exact cosine only
    # within clusters, drop one member of every pair at cosine >=
    # threshold
    from etl_poc_spark.operators.similarity import (
        semdedup,
        train_kmeans_centroids,
        train_kmeans_centroids_minibatch,
    )

    id_col = op.get("id", "doc_id")
    vec_col = op.get("embedding_key", "embedding")
    trainer = op.get("trainer", "full")
    if trainer == "full":
        centroids = train_kmeans_centroids(
            df,
            n_centroids=int(op.get("n_centroids", 64)),
            n_iters=int(op.get("n_iters", 1)),
            id_col=id_col,
            vec_col=vec_col,
        )
    elif trainer == "minibatch":
        # the scale trainer: constant per-iteration cost (SCALING.md)
        centroids = train_kmeans_centroids_minibatch(
            df,
            n_centroids=int(op.get("n_centroids", 64)),
            n_iters=int(op.get("n_iters", 4)),
            id_col=id_col,
            vec_col=vec_col,
        )
    else:
        raise PipelineConfigError(
            f"semdedup trainer must be 'full' or 'minibatch', got {trainer!r}"
        )
    flags = semdedup(
        df,
        centroids,
        threshold=float(op.get("threshold", 0.99)),
        max_cluster_size=(
            int(op["max_cluster_size"]) if op.get("max_cluster_size") else None
        ),
        id_col=id_col,
        vec_col=vec_col,
        keep=op.get("keep", "min_id"),
        verify=op.get("verify", "exact"),
        assign=op.get("assign", "flat"),  # 'two_level' = O(n·sqrt(k))
    )
    drop = flags.filter(F.col("is_dropped")).select(id_col)
    return df.join(drop, id_col, "left_anti")


@_op("span_dedup")
def _span_dedup(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {id: doc_id, text_key: text, window: 8, max_coverage: 0.25} —
    # ExactSubstr-style doc filter (Lee et al. 2021): drop documents
    # whose cross-doc duplicated-span coverage exceeds max_coverage
    from etl_poc_spark.operators.spandedup import span_coverage

    id_col = op.get("id", "doc_id")
    cov = span_coverage(
        df, id_col, op.get("text_key", "text"), window=int(op.get("window", 8))
    )
    max_cov = float(op.get("max_coverage", 0.25))
    drop = cov.filter(F.col("dup_coverage") > max_cov).select(id_col)
    return df.join(drop, id_col, "left_anti")


@_op("span_dedup_removal")
def _span_dedup_removal(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {id: doc_id, text_key: text, window: 8, keep_first: false} —
    # ExactSubstr's output step (Lee et al. 2021): CUT each document's
    # cross-doc duplicated spans and rewrite text in place (r15); other
    # columns pass through. keep_first retains the min-id copy.
    from etl_poc_spark.operators.spandedup import span_removal

    id_col = op.get("id", "doc_id")
    text_col = op.get("text_key", "text")
    out = span_removal(
        df, id_col, text_col,
        window=int(op.get("window", 8)),
        keep_first=bool(op.get("keep_first", False)),
    )
    rewritten = out.select(
        id_col, F.col("dedup_text").alias(text_col), "removed_tokens"
    )
    return df.drop(text_col).join(rewritten, id_col)


# --- event / entity vocabulary ---


@_op("funnel")
def _funnel(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {steps: [{name, event_type, min_value?, max_value?} | {name,
    # condition}], entity_key: user_id, ts_key: ts, value_key: value,
    # max_gap_seconds?, rollup?} — ordered conversion funnel
    # (operators/funnel.py): per-entity earliest qualifying time of each
    # step, strictly ordered, with an optional conversion window;
    # rollup: true collapses to one row of step counts + conversion
    # ratios
    from etl_poc_spark.operators.funnel import (
        compile_funnel_steps,
        funnel_rollup,
        funnel_times,
    )

    # two step grammars: the PORTABLE form (event_type + optional
    # min_value/max_value — also runnable by the streaming twin,
    # streaming/stateful.py::stateful_funnel) and the batch-only
    # free-form `condition` SQL. Mixing them in one funnel is
    # rejected so a config either ports to streaming wholesale or
    # declares itself batch-only.
    has_portable = any("event_type" in s for s in op["steps"])
    has_condition = any("condition" in s for s in op["steps"])
    if has_portable and has_condition:
        raise PipelineConfigError(
            "funnel steps must be all portable (event_type [+ value "
            "bounds]) or all free-form `condition` SQL, not a mix"
        )
    if has_portable:
        steps = compile_funnel_steps(
            op["steps"], value_col=op.get("value_key", "value")
        )
    else:
        steps = [(s["name"], F.expr(s["condition"])) for s in op["steps"]]
    per_entity = funnel_times(
        df,
        steps,
        entity_col=op.get("entity_key", "user_id"),
        ts_col=op.get("ts_key", "ts"),
        max_gap_seconds=(
            int(op["max_gap_seconds"]) if op.get("max_gap_seconds") else None
        ),
    )
    if op.get("rollup"):
        return funnel_rollup(per_entity, [s["name"] for s in op["steps"]])
    return per_entity


@_op("debounce")
def _debounce(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {keys: [user_id, event_type], ts_key: ts, within_seconds: 120,
    # tiebreak: [event_id]} — drop burst noise: events the same entity
    # emitted within `within_seconds` of its previous event
    # (operators/funnel.py)
    from etl_poc_spark.operators.funnel import debounce

    return debounce(
        df,
        entity_cols=op.get("keys") or ["user_id", "event_type"],
        ts_col=op.get("ts_key", "ts"),
        within_seconds=int(op.get("within_seconds", 120)),
        tiebreak_cols=tuple(op.get("tiebreak") or ["event_id"]),
    )


@_op("fuzzy_link")
def _fuzzy_link(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {id: doc_id, name_key: text, block_expr, max_distance: 1,
    # max_block_size: 10000} — blocked fuzzy record linkage
    # (operators/linkage.py)
    from etl_poc_spark.operators.linkage import blocked_fuzzy_pairs

    return blocked_fuzzy_pairs(
        df,
        id_col=op.get("id", "doc_id"),
        name_col=op.get("name_key", "text"),
        block=F.expr(op["block_expr"]),
        max_distance=int(op.get("max_distance", 1)),
        max_block_size=int(op.get("max_block_size", 10_000)),
    )


@_op("entity_resolution")
def _entity_resolution(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {id: doc_id, name_key: text, block_expr, max_distance: 1,
    # max_block_size: 10000, output: entities|annotated} — end-to-end ER
    # (the customer_entity_groups composition as ONE declarable op):
    # blocked fuzzy pairs -> connected components -> canonical entities.
    # output: "entities" (default) returns one row per resolved entity
    # (component, representative, n_members); "annotated" returns the
    # input with an `entity_id` column — the component representative,
    # or the row's own id when nothing matched it (a singleton entity).
    from etl_poc_spark.operators.dedup import (
        connected_components,
        dedup_representatives,
    )

    id_col = op.get("id", "doc_id")
    pairs = _fuzzy_link(df, op, ctx).select("id_a", "id_b")
    output = op.get("output", "entities")
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


@_op("asof_join")
def _asof_join(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {right, keys: [user_id], ts_key: ts, right_ts_key, attrs,
    # direction: backward|forward, tolerance_seconds?, tiebreak?,
    # bucket_seconds?} — backward/forward as-of enrichment against
    # another dataset/step (operators/temporal.py — union-window carry,
    # one key shuffle). `bucket_seconds` opts into the hot-key-mitigated
    # two-phase form (backward only): per-(key, time-bucket) windows + a
    # bucket-granular carry, for when one key holds a task-breaking share
    # of rows (key_skew_report is the preflight; SCALING.md thresholds).
    common = dict(
        by=op.get("keys") or ["user_id"],
        left_ts=op.get("ts_key", "ts"),
        right_ts=op.get("right_ts_key", op.get("ts_key", "ts")),
        right_cols=op["attrs"],
        tolerance_seconds=(
            int(op["tolerance_seconds"]) if op.get("tolerance_seconds") else None
        ),
        tiebreak_cols=tuple(op.get("tiebreak") or ()),
    )
    if op.get("bucket_seconds"):
        if op.get("direction", "backward") != "backward":
            raise PipelineConfigError(
                "asof_join bucket_seconds supports direction: backward only"
            )
        from etl_poc_spark.operators.temporal import asof_join_bucketed

        return asof_join_bucketed(
            df, ctx.frame("right"),
            bucket_seconds=int(op["bucket_seconds"]), **common,
        )
    from etl_poc_spark.operators.temporal import asof_join

    return asof_join(
        df, ctx.frame("right"),
        direction=op.get("direction", "backward"), **common,
    )


# --- analytics vocabulary (round 9): the behavioral/profiling tier of
# queries/behavior_q.py, behavior2_q.py and profile_q.py as declarative
# ops — each calls the same operators/behavior.py function as its query
# and adds only its own ordering or rollup ---


@_op("transition_matrix")
def _transition_matrix(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {entity_key: user_id, state_key: event_type, ts_key: ts,
    # tiebreak: event_id} — first-order Markov state bigrams +
    # conditional probability (event_transition_matrix)
    from etl_poc_spark.operators.behavior import transition_matrix

    return transition_matrix(
        df, op.get("entity_key", "user_id"), op.get("state_key", "event_type"),
        op.get("ts_key", "ts"), op.get("tiebreak", "event_id"),
    )


@_op("streaks")
def _streaks(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {entity_key: user_id, ts_key: ts} — gaps-and-islands
    # consecutive-day runs per entity (user_daily_streaks)
    from etl_poc_spark.operators.behavior import daily_streaks

    return daily_streaks(df, op.get("entity_key", "user_id"), op.get("ts_key", "ts"))


@_op("profile")
def _profile(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {columns: [all]} — long-format column profile, plain rendering
    # (orders_column_profile)
    from etl_poc_spark.operators.behavior import column_profile

    return column_profile(df, op.get("columns") or df.columns).orderBy("column_name")


@_op("attribution")
def _attribution(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {entity_key: user_id, state_key: event_type, ts_key: ts,
    # tiebreak: event_id, conversion_type: purchase, within_seconds:
    # 3600} — last-touch attribution (purchase_attribution_last_touch)
    from etl_poc_spark.operators.behavior import last_touch_attribution

    return last_touch_attribution(
        df, op.get("entity_key", "user_id"), op.get("state_key", "event_type"),
        op.get("ts_key", "ts"), op.get("tiebreak", "event_id"),
        str(op.get("conversion_type", "purchase")), int(op.get("within_seconds", 3600)),
    ).orderBy("channel")


@_op("rfm")
def _rfm(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {entity_key: user_id, ts_key: ts, value_key: value, n_tiles: 5,
    # rollup?} — recency/frequency/monetary n-tile scores per entity;
    # rollup: true collapses to (r,f,m) cell counts
    # (customer_rfm_segments)
    from etl_poc_spark.operators.behavior import rfm_scores

    scored = rfm_scores(
        df, op.get("entity_key", "user_id"), op.get("ts_key", "ts"),
        op.get("value_key", "value"), int(op.get("n_tiles", 5)),
    )
    if not op.get("rollup"):
        return scored
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).alias("n_entities"))
        .orderBy("r_score", "f_score", "m_score")
    )


@_op("twap")
def _twap(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {entity_key: user_id, group_key: event_type, ts_key: ts,
    # value_key: value, tiebreak: event_id} — time-weighted average
    # value per group (event_type_twap)
    from etl_poc_spark.operators.behavior import time_weighted_average

    group_col = op.get("group_key", "event_type")
    return time_weighted_average(
        df, op.get("entity_key", "user_id"), group_col, op.get("ts_key", "ts"),
        op.get("value_key", "value"), op.get("tiebreak", "event_id"),
    ).orderBy(group_col)


@_op("abc")
def _abc(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {key: doc_id, value_key: value, a_pct: 80, b_pct: 95, rollup?} —
    # ABC / Pareto classification with integer cumulative-percent cuts
    # (part_abc_classification); the rollup sums the decimal per-key
    # values and casts once at the boundary
    from etl_poc_spark.operators.behavior import abc_classes

    key = op.get("key", "doc_id")
    a_pct = int(op.get("a_pct", 80))
    b_pct = int(op.get("b_pct", 95))
    if not 0 < a_pct < b_pct <= 100:
        raise PipelineConfigError("abc op requires 0 < a_pct < b_pct <= 100")
    classified = abc_classes(df, key, op.get("value_key", "value"), a_pct, b_pct)
    if op.get("rollup"):
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


@_op("grouping_sets")
def _grouping_sets(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {sets: [[col, ...], ...], aggs: {alias: SQL-aggregate}} — general
    # GROUPING SETS, [] = grand total (segment_year_grouping_sets)
    from etl_poc_spark.operators.behavior import grouping_sets

    sets = op.get("sets")
    if not isinstance(sets, list) or not sets:
        raise PipelineConfigError("grouping_sets op requires a non-empty `sets` list")
    group_cols = list(dict.fromkeys(c for s in sets for c in s))
    for c in group_cols:
        if not str(c).replace("_", "").isalnum():
            raise PipelineConfigError(f"grouping_sets: invalid column name {c!r}")
    aggs = op.get("aggs") or {"n_rows": "COUNT(*)"}
    out = grouping_sets(df, sets, [F.expr(e).alias(a) for a, e in aggs.items()])
    return out.orderBy("grouping_id", *group_cols)


@_op("association_rules")
def _association_rules(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {basket_key, item_key, min_support_count: 5, top_n: 20} —
    # market-basket rules for the top_n pairs by count
    # (part_association_rules)
    from etl_poc_spark.operators.behavior import association_rules

    return association_rules(
        df, op["basket_key"], op["item_key"],
        int(op.get("min_support_count", 5)), int(op.get("top_n", 20)),
    ).orderBy(F.desc("n_both"), "item_a", "item_b")


@_op("pps_sample")
def _pps_sample(df: DataFrame, op: dict[str, Any], ctx: _OpContext) -> DataFrame:
    # {id: doc_id, stratify_key?, weight_key|text_key, k: 10} —
    # systematic probability-proportional-to-size sampling: keep the
    # picked rows (pps_token_sample)
    from etl_poc_spark.operators.behavior import pps_systematic

    c = pps_systematic(
        df, _weight(op), op.get("id", "doc_id"), int(op.get("k", 10)), op.get("stratify_key")
    )
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
    ops_by_name = {op["name"]: op for op in config["operations"]}
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
# config-declared STREAMING pipelines (round 11): the batch surface above
# covers the reference's whole DAG; this exposes the engine's continuous
# operators (exact dedup, LM count maintenance, the perplexity drift /
# held-out quality monitor) to the same YAML + CLI front-end, so a config
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


def run_streaming_pipeline(
    spark: SparkSession, config: dict[str, Any], timeout_seconds: float = 600.0
) -> dict[str, Any]:
    """Run the config's `streaming:` block to completion of the available
    data (availableNow trigger — the batch-boundary-exact mode every
    continuous op here is replay-tested under) and return a summary.

    Block shape:
        streaming:
          source: {path, format: parquet|jsonl_tail, ddl?, max_files_per_trigger?}
          op: exact_dedup | lm_counts | lm_perplexity_monitor | dsir_counts | dsir_monitor | doremi_stats | badwords_stats
          store_dir: ...          # op state store
          checkpoint_dir: ...
          # exact_dedup: keys: [col,...], id: doc_id, kept_dir: ...
          # lm_counts / lm_perplexity_monitor: text_key: text
          # dsir_counts: role: raw|target, text_key, n_buckets
          # doremi_stats: stratify_key: source, excess_key: excess
          # badwords_stats: stratify_key: source, text_key: text, badwords?: [..]
          # dsir_monitor: monitor_dir, target: {path, format?, text_key?},
          #   id, text_key, n_buckets -> score-then-fold drift series
          # lm_perplexity_monitor: monitor_dir, id: doc_id, k: 1.0,
          #   reference: {path, format?, text_key?}  -> held-out mode:
          #   the reference corpus seeds the store ONCE (tag=reference)
          #   and batches score against it WITHOUT folding in (CCNet's
          #   fixed-reference quality gate); omit `reference` for drift
          #   mode (score against everything so far, then fold).
    """
    spec = config.get("streaming")
    if not isinstance(spec, dict):
        raise PipelineConfigError("streaming config requires a 'streaming' mapping")
    for key in ("source", "op", "store_dir", "checkpoint_dir"):
        if key not in spec:
            raise PipelineConfigError(f"streaming block missing required key {key!r}")
    stream = _open_stream(spark, spec["source"])
    op = spec["op"]
    store_dir = spec["store_dir"]
    summary: dict[str, Any] = {"op": op, "store_dir": store_dir}

    # every op is one foreachBatch handler over its store; the handler and
    # its keyword arguments besides store_dir are all that differ
    if op == "exact_dedup":
        from etl_poc_spark.operators.incremental import exact_dedup_handle_batch

        if "kept_dir" not in spec or "keys" not in spec:
            raise PipelineConfigError("streaming exact_dedup requires 'keys' and 'kept_dir'")
        handle = exact_dedup_handle_batch
        kwargs = dict(
            kept_dir=spec["kept_dir"],
            key_cols=list(spec["keys"]),
            id_col=spec.get("id", "doc_id"),
        )
    elif op == "lm_counts":
        from etl_poc_spark.operators.ngram_lm import bigram_lm_handle_batch

        handle = bigram_lm_handle_batch
        kwargs = dict(text_col=spec.get("text_key", "text"))
    elif op == "dsir_counts":
        # continuous DSIR model maintenance (operators/dsir.py): fold each
        # micro-batch's bucket histogram into the store under `role`
        # (raw|target); batch scoring reads it via score_dsir_store
        from etl_poc_spark.operators.dsir import DEFAULT_BUCKETS, dsir_handle_batch

        role = spec.get("role", "raw")
        if role not in ("raw", "target"):
            raise PipelineConfigError("dsir_counts: role must be raw|target")
        handle = dsir_handle_batch
        kwargs = dict(
            role=role,
            text_col=spec.get("text_key", "text"),
            n_buckets=int(spec.get("n_buckets", DEFAULT_BUCKETS)),
        )
        summary["role"] = role
    elif op == "doremi_stats":
        # continuous DoReMi stats maintenance (operators/curation.py):
        # fold each micro-batch's per-domain (count, clipped-excess-sum)
        # partials into the store; the live mixture weights are
        # doremi_store_weights over it at any time
        from etl_poc_spark.operators.curation import doremi_handle_batch

        handle = doremi_handle_batch
        kwargs = dict(
            domain_col=spec.get("stratify_key", "source"),
            excess_col=spec.get("excess_key", "excess"),
        )
    elif op == "badwords_stats":
        # continuous per-domain badwords monitoring (the content-safety
        # dashboard of a live crawl ingest): fold each micro-batch's
        # (n_docs, n_flagged, n_hits) partials into the store; read the
        # live view any time with read_badwords_store
        from etl_poc_spark.operators.curation import (
            C4_BADWORDS_PLACEHOLDER,
            badwords_handle_batch,
        )

        handle = badwords_handle_batch
        kwargs = dict(
            badwords=spec.get("badwords", list(C4_BADWORDS_PLACEHOLDER)),
            domain_col=spec.get("stratify_key", "source"),
            text_col=spec.get("text_key", "text"),
        )
    elif op == "dsir_monitor":
        # target-affinity drift monitor: `target:` seeds the reference
        # model once (tag=reference — idempotent overwrite slot, the
        # lm_perplexity_monitor held-out discipline), then each batch
        # scores against it relative to the accumulated raw model and
        # folds into raw
        from etl_poc_spark.operators.dsir import (
            DEFAULT_BUCKETS,
            dsir_monitor_handle_batch,
            incremental_dsir_ingest,
        )

        if "monitor_dir" not in spec:
            raise PipelineConfigError("dsir_monitor requires 'monitor_dir'")
        if "target" not in spec:
            raise PipelineConfigError(
                "dsir_monitor requires 'target' (the reference corpus dataset)"
            )
        nb = int(spec.get("n_buckets", DEFAULT_BUCKETS))
        tgt_spec = spec["target"]
        tgtdf = _load_dataset(spark, tgt_spec)
        incremental_dsir_ingest(
            spark,
            tgtdf,
            store_dir,
            role="target",
            text_col=tgt_spec.get("text_key", spec.get("text_key", "text")),
            n_buckets=nb,
            batch_tag="reference",
        )
        summary["target_rows"] = tgtdf.count()
        handle = dsir_monitor_handle_batch
        kwargs = dict(
            monitor_dir=spec["monitor_dir"],
            id_col=spec.get("id", "doc_id"),
            text_col=spec.get("text_key", "text"),
            n_buckets=nb,
        )
        summary["monitor_dir"] = spec["monitor_dir"]
    elif op == "lm_perplexity_monitor":
        from etl_poc_spark.operators.ngram_lm import (
            incremental_bigram_lm_ingest,
            perplexity_monitor_handle_batch,
        )

        if "monitor_dir" not in spec:
            raise PipelineConfigError("lm_perplexity_monitor requires 'monitor_dir'")
        ref = spec.get("reference")
        if ref is not None:
            # held-out seeding: idempotent by construction — the tag slot
            # overwrites, so re-running the pipeline re-seeds identically
            refdf = _load_dataset(spark, ref)
            incremental_bigram_lm_ingest(
                spark,
                refdf,
                store_dir,
                text_col=ref.get("text_key", spec.get("text_key", "text")),
                batch_tag="reference",
            )
            summary["reference_rows"] = refdf.count()
        handle = perplexity_monitor_handle_batch
        kwargs = dict(
            monitor_dir=spec["monitor_dir"],
            id_col=spec.get("id", "doc_id"),
            text_col=spec.get("text_key", "text"),
            k=float(spec.get("k", 1.0)),
            fold=ref is None,
        )
        summary["mode"] = "held_out" if ref is not None else "drift"
        summary["monitor_dir"] = spec["monitor_dir"]
    else:
        raise PipelineConfigError(f"unknown streaming op {op!r}")

    from etl_poc_spark.operators.deltastore import foreach_batch_writer

    writer = foreach_batch_writer(
        stream, spec["checkpoint_dir"], handle, store_dir=store_dir, **kwargs
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
