"""Lineage-AND-stats truncation for iterative DataFrame loops, and the
one fixpoint driver those loops run on.

``localCheckpoint(eager=True)`` truncates *lineage* but Spark 4's
``LogicalRDD.fromDataset`` (``sql/execution/ExistingRDD.scala``,
``rewriteStatsAndConstraints``) deliberately CARRIES the optimized
plan's estimated ``Statistics`` onto the checkpoint node, so the next
round's size estimate builds on the previous round's — and
``SizeInBytesOnlyStatsPlanVisitor.visitJoin`` estimates a join as the
PRODUCT of its children's ``sizeInBytes``. Any round-iterated
SELF-join therefore roughly SQUARES the carried estimate per round:
after K checkpointed self-join rounds the carried BigInt is
``S^(2^K)`` — 2^K·digits(S) decimal digits. Harmless at unit-test
round counts; at scale-dependent round counts (the biconnectivity
sparse table runs ⌈log₂ V⌉ levels) the driver ends up spending HOURS
inside ``BigInteger.multiplyToomCook3`` during stats estimation
(``InjectRuntimeFilter``/``canBroadcastBySize``), single-threaded,
before ``java.math.BigInteger`` finally throws
``ArithmeticException: BigInteger would overflow supported range``.
Observed live on the 25× bridges replica (500k nodes → 19 sparse
levels); jstack pinned the spin to exactly this path.

:func:`materialize` is the repo-wide fix: eager localCheckpoint (pay
the materialization, truncate lineage) followed by re-wrapping the
checkpointed ``RDD[InternalRow]`` in a FRESH ``LogicalRDD`` via
``SparkSession.internalCreateDataFrame`` — which carries NO stats, so
the node reads as ``spark.sql.defaultSizeInBytes`` and every round's
stats estimation stays constant-size (measured: 19 digits forever vs
968 digits after just 8 self-join rounds). Estimation-quality
trade-off: none in practice — the compounded estimate it replaces was
astronomically WORSE (products of products), and both it and the
default disable auto-broadcast equally; every deliberate broadcast in
this repo is an explicit ``F.broadcast`` hint, which stats never
override.

``internalCreateDataFrame`` is ``private[sql]`` in Scala, which
compiles to a public JVM method — reachable from py4j, but a Spark
upgrade could move it, so the helper degrades LOUDLY-BUT-SOFTLY: one
``warnings.warn`` per process and plain localCheckpoint behavior
(correct, just re-exposed to the compounding pathology).

:func:`fixpoint` is the superstep driver (the Pregelix shape: one
generic loop over join/group-by round plans). Each round it runs the
operator's step, materializes the result with the fused count, asks
the operator's convergence test, and releases the checkpoint of the
round it replaced — only ever a checkpoint it created itself, so loop
invariants and the caller's initial state are never touched.
"""

from __future__ import annotations

import warnings
from typing import Callable

from pyspark.sql import DataFrame

_WARNED = False


def _checkpoint(df: DataFrame):
    """Fused checkpoint + count → ``(frame, rows, rdd)`` where ``rdd`` is
    the persisted RDD behind ``frame`` (the handle :func:`fixpoint`
    unpersists), or ``None`` on the fallback path."""
    global _WARNED
    # eager=False: Dataset.localCheckpoint row-COPIES the internal RDD
    # (UnsafeRows are buffer-reused per partition — caching them
    # un-copied aliases every row in a partition to the last one) and
    # MARKS it for local checkpointing without running the
    # materializing count; the count below is that action.
    ck = df.localCheckpoint(eager=False)
    try:  # only the private-API calls: a failing action must propagate
        from pyspark.sql.classic.dataframe import DataFrame as _CDF

        jdf = ck._jdf
        jrdd = jdf.queryExecution().toRdd()
        fresh = _CDF(
            ck.sparkSession._jsparkSession.internalCreateDataFrame(
                jrdd, jdf.schema(), False
            ),
            ck.sparkSession,
        )
        persisted = jdf.logicalPlan().rdd()
    except Exception as exc:  # noqa: BLE001 — private-API drift guard
        if not _WARNED:
            _WARNED = True
            warnings.warn(
                "materialize: stats truncation unavailable "
                f"({exc!r}); falling back to plain localCheckpoint — "
                "iterative self-join loops regain the compounding "
                "size-estimate pathology (see operators/_materialize.py)",
                RuntimeWarning,
                stacklevel=3,
            )
        return ck, ck.count(), None
    return fresh, int(jrdd.count()), persisted


def materialize_count(df: DataFrame) -> tuple[DataFrame, int]:
    """Eagerly materialize ``df`` and return ``(frame, row count)``: the
    action that materializes the checkpoint IS the ``count()``, so an
    iterative loop's size/emptiness probe costs no extra Spark job (in
    local mode per-job overhead is the floor cost of every iterative
    operator). The returned frame's plan carries neither lineage NOR
    compounded size statistics."""
    out, n, _ = _checkpoint(df)
    return out, n


def materialize(df: DataFrame) -> DataFrame:
    """:func:`materialize_count` without the count — a drop-in for
    ``.localCheckpoint(eager=True)``; chain as ``.transform(materialize)``."""
    return _checkpoint(df)[0]


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    *,
    name: str,
    max_rounds: int,
    done: Callable[[DataFrame, int | None], bool] | None = None,
    checkpoint: bool = True,
    hint: str = "",
) -> DataFrame:
    """Run ``state ← step(state, round)`` for at most ``max_rounds``
    rounds and return the last state. Each round is materialized with
    the fused count, then ``done(new_state, rows)`` tests it. With
    ``done=None`` exactly ``max_rounds`` rounds run; otherwise running
    out of rounds raises ``RuntimeError`` naming ``name`` (plus
    ``hint``) — a silently truncated result would look plausible.

    After ``done``, the checkpoint of the replaced round is released if
    this driver made it (never the initial ``state`` or an invariant
    the step reads; never the returned state), so ``done`` may read
    the previous state but nothing kept by the caller may.
    ``checkpoint=False`` keeps the loop one lazy, explainable plan
    (``rows`` is then ``None``)."""
    owned = None  # persisted RDD behind ``state`` when this driver made it
    for r in range(max_rounds):
        new = step(state, r)
        new, rows, rdd = _checkpoint(new) if checkpoint else (new, None, None)
        stop = done is not None and done(new, rows)
        if owned is not None:
            _release(owned)
        state, owned = new, rdd
        if stop:
            return state
    if done is None:
        return state
    raise RuntimeError(
        f"{name}: no fixpoint in {max_rounds} rounds"
        + (f" — {hint}" if hint else "")
    )


def _settled(state: DataFrame, _) -> bool:
    """:func:`fixpoint` ``done`` test for states that carry a per-row
    ``_chg`` flag: no row changed this round."""
    return state.filter("_chg").limit(1).count() == 0


def _release(rdd) -> None:
    """Drop a superseded round's checkpoint blocks. ``RDD.unpersist``
    would log a WARN per round that a local checkpoint cannot be
    recomputed — intended here — so call the ``SparkContext`` method it
    wraps (``private[spark]``: same drift guard as :func:`_checkpoint`)."""
    try:
        rdd.context().unpersistRDD(rdd.id(), False)
    except Exception:  # noqa: BLE001 — private-API drift guard
        rdd.unpersist(False)
