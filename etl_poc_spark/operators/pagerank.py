"""Distributed PageRank by power iteration (the iterative-algorithm tier
next to operators/dedup.py::connected_components).

Rank state is one row per vertex, (vertex, nbrs, rank), where `nbrs` is the
distinct out-neighbour array (empty for a dangling vertex). The adjacency
travels inside the state, so an iteration joins nothing: it is ONE groupBy
over exploded rows — a self row carrying `nbrs` (so every vertex survives,
in-edges or not), one (dst, rank/size(nbrs)) row per out-neighbour, and for
a dangling vertex one row carrying its rank under the dangling key. The
key is (vertex, dangling flag); dangling rows group under (null, true),
which no vertex row (flag false) can share whatever the id type. That
group's sum is the dangling mass D, read by one driver collect of the
single row, so D is neither joined nor broadcast back. The rank addends
are (1-d)/n + d·D/n + d·s(v), s(v) being the contributions summed into v.

Jobs: setup is the adjacency groupBy plus a count for n; each iteration is
the aggregate's shuffle-map stage plus the D collect (two jobs). The
aggregate is checkpointed lazily, so that collect also materializes the
checkpoint and the next iteration's plan starts from it.

Checkpoint modes (the local-vs-cluster durability trade-off):

* default (`checkpoint_dir=None`): `localCheckpoint` — blocks live in
  executor storage. Fastest on local[*]; on a real cluster an executor
  loss mid-iteration loses blocks that, with lineage cut, cannot be
  recomputed, failing the job.
* reliable (`checkpoint_dir="hdfs://..."`): `df.checkpoint` to a
  fault-tolerant filesystem. Survives executor loss, at the cost of one
  distributed write per iteration.

Dangling vertices (no out-edges) donate their mass uniformly to every
vertex each iteration — the standard stochastic-matrix fix; without it
rank mass leaks and the vector no longer sums to 1.

Numeric note: rank values are doubles whose partial-sum order varies by
partitioning; the registered supplier_pagerank query rounds them to 9
digits, which absorbs that (the adversarial-session gate pins it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    damping: float = 0.85,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Ranks for every vertex appearing in `edges` (directed, unweighted;
    parallel edges count once; rows with a null endpoint are not edges).
    Returns (vertex, rank) with sum(rank)=1 up to float error.

    checkpoint_dir: when set, per-iteration state is checkpointed reliably
    to this fault-tolerant directory (survives executor loss); when None,
    executor-local checkpoint (fast, not fault-tolerant).
    """
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _cut(df: DataFrame) -> DataFrame:
        # lazy: the next action on the frame (the count / D collect below)
        # materializes it, so the checkpoint costs no job of its own
        if checkpoint_dir is not None:
            return df.checkpoint(eager=False)
        return df.localCheckpoint(eager=False)

    e = edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
    ends = e.select(F.col(src).alias("vertex"), F.col(dst).alias("nb")).union(
        e.select(F.col(dst).alias("vertex"), F.lit(None).alias("nb"))
    )
    vtype = ends.schema["vertex"].dataType
    adj = _cut(ends.groupBy("vertex").agg(F.collect_set(F.col("nb").cast(vtype)).alias("nbrs")))
    n = adj.count()
    state = adj.select("vertex", "nbrs", F.lit(1.0 / n).alias("rank"))

    def _row(k, dangling: bool, nbrs, c):
        return F.struct(k.alias("k"), F.lit(dangling).alias("dangling"), nbrs.alias("nbrs"), c.alias("c"))

    no_nbrs = F.lit(None).cast(state.schema["nbrs"].dataType)
    deg, rank = F.size("nbrs"), F.col("rank")
    rows = F.concat(
        F.array(_row(F.col("vertex"), False, F.col("nbrs"), F.lit(None).cast("double"))),
        F.when(deg == 0, F.array(_row(F.lit(None).cast(vtype), True, no_nbrs, rank))).otherwise(
            F.transform("nbrs", lambda x: _row(x, False, no_nbrs, rank / deg))
        ),
    )
    for _ in range(n_iter):
        agg = _cut(
            state.select(F.explode(rows).alias("r")).select("r.*").groupBy("k", "dangling")
            .agg(F.first("nbrs", ignorenulls=True).alias("nbrs"), F.sum("c").alias("s"))
        )
        # the one driver action per iteration: D, read from the (null,
        # true) row; it also materializes the checkpoint of `agg`
        d_rows = agg.where(F.col("dangling")).select("s").collect()
        dangling_m = d_rows[0]["s"] if d_rows else 0.0
        state = agg.where(~F.col("dangling")).select(
            F.col("k").alias("vertex"), "nbrs",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.lit(dangling_m) / F.lit(float(n))
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
    return state.select("vertex", "rank")
