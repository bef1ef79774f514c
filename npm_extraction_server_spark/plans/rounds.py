"""The round drivers the package's Spark fixpoint loops run on (graph
analytics, connected components, entailment, rule materialization,
truth discovery, WL hashing, redirect resolution). Each round's state
is ``localCheckpoint``-ed, which truncates lineage so Catalyst never
re-derives round N-1 inside round N.

One round loop (``_persisted`` + ``_rounds``) is the lifecycle every
loop over a persisted edge set uses:

- ``with _persisted(df, *keys) as e:`` hash-partitions the loop-
  invariant frame on its join keys (``src`` by default; ``dst`` for
  hyperball) and persists it, so no round recomputes it. There is no
  warm-up action: the first round's job fills the
  cache. The frame is unpersisted when the block exits, also when a
  round raises, so one block can span several loops (betweenness's
  forward and backward sweeps).
- ``_rounds(step, seed, n)`` runs ``step(r, outs)`` for r = 1..n, where
  ``outs`` is ``[seed, out_1, ..., out_{r-1}]``. Each round's output is
  ``localCheckpoint``-ed. Frontier loops stop at the first empty
  output, which is not kept (``_empty``: ``DataFrame.isEmpty()``, no
  job at all for a checkpoint without partitions); fixed-iteration
  loops pass ``until_empty=False``. The stop rule also sets the
  checkpoint rule: a loop that probes its rounds checkpoints them
  EAGERLY (the probe reads the materialised frame); a fixed-iteration
  loop checkpoints them LAZILY. Under AQE the lazy call still runs the
  round's shuffle stages, and its last stage runs inside the next
  round's first job — one job per round fewer, and the persisted edges
  of a ``_persisted`` block are read while the block is open. Callers
  that promise convergence pass ``exhausted``, the ``RuntimeError``
  message for n non-empty rounds. Accumulated state (visited sets, walk
  corpora, derived triples) is ``_union_all(outs)``: every input is a
  checkpoint, so the balanced union is pure metadata and no round
  rewrites earlier rounds' rows.

One peel loop (``_peel``) is the fixpoint of a step whose row count
settles (graph decompositions, transitive and sym/inverse closures):

- ``_peel(step, live, n_live, rounds, exhausted)`` replaces the live
  set by ``step(live)``, eagerly ``localCheckpoint``-ed, until its row
  count stops changing, and returns ``(live, n_live, rounds left)``.
  Each round runs ONE count action; the previous checkpoint's count is
  carried in ``n_live`` — also from one ``_peel`` call into the next —
  and never recounted. The no-change round counts toward ``rounds``.
  A round that empties the live set also charges that round without
  running it: an empty set is a fixpoint. ``exhausted`` is the
  RuntimeError message raised when the rounds run out.

One min-label loop (``_min_label``) is the fixpoint connected
components and SCC coloring share: each round lowers every (node,
label) row to the min label over its (src, dst) in-edges, pointer-
doubles (l(v) <- min(l(v), l(l(v))), so chains settle in O(log n)
rounds), checkpoints through ``_stats_fresh`` and runs ONE count of
the changed labels. Doubling is valid on directed edges too: l(l(v))
reaches l(v), which reaches v.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@contextmanager
def _persisted(df: DataFrame, *keys: str) -> Iterator[DataFrame]:
    """``df`` hash-partitioned on ``keys`` (default ``src``) and
    persisted for the life of the ``with`` block. A round's sort-merge
    join on those keys reads it from the cache with no exchange above
    it in AQE's final plan, and exchanges only the other side; the
    initial plan's exchange over the ``InMemoryTableScan`` is dropped
    once the cache stage has run (``explain()``, Spark 4.1, both
    broadcast thresholds at -1). A join on other columns exchanges it
    every round. Unpersisted on exit, also when a round raises."""
    e = df.repartition(*[F.col(k) for k in keys or ("src",)]).persist()
    try:
        yield e
    finally:
        e.unpersist()


def _rounds(step: Callable[[int, list[DataFrame]], DataFrame],
            seed: DataFrame, n: int, until_empty: bool = True,
            exhausted: str | None = None) -> list[DataFrame]:
    """``[seed, out_1, ..., out_k]`` with ``out_r = step(r, outs)``
    checkpointed, eagerly iff ``until_empty`` (see the module
    docstring). With ``until_empty`` the loop stops at the first empty
    output, which is dropped; ``exhausted`` is the RuntimeError message
    raised when all ``n`` rounds produced rows."""
    outs = [seed]
    for r in range(1, n + 1):
        nxt = step(r, outs).localCheckpoint(eager=until_empty)
        if until_empty and _empty(nxt):
            return outs
        outs.append(nxt)
    if exhausted is not None:
        raise RuntimeError(exhausted)
    return outs


def _empty(df: DataFrame) -> bool:
    """Emptiness of a CHECKPOINTED frame: ``DataFrame.isEmpty()`` (one
    limit-1 job), skipped when the checkpoint has no partitions at all
    — an empty one often has none, and isEmpty's single-partition
    limit exchange would still launch a job for it. (On a lazy plan
    ``.rdd`` would run its shuffle stages; probe those with
    ``isEmpty()`` directly.)"""
    return df.rdd.getNumPartitions() == 0 or df.isEmpty()


def _peel(step: Callable[[DataFrame], DataFrame], live: DataFrame,
          n_live: int, rounds: int,
          exhausted: str) -> tuple[DataFrame, int, int]:
    """``(fixpoint, its row count, rounds left)`` of ``step`` from
    ``live`` (``n_live`` rows) within ``rounds`` rounds (see the
    module docstring)."""
    while rounds > 0:
        rounds -= 1
        nxt = step(live).localCheckpoint(eager=True)
        n_nxt = nxt.count()
        if n_nxt == n_live:
            return nxt, n_nxt, rounds
        live, n_live = nxt, n_nxt
        if not n_live and rounds:
            # empty is a fixpoint: charge its no-change round, skip its jobs
            return live, 0, rounds - 1
    raise RuntimeError(exhausted)


def _min_label(labels: DataFrame, edges: DataFrame, n: int,
               exhausted: str) -> DataFrame:
    """The (node, label) fixpoint of label(dst) <- min label(src) over
    (src, dst) ``edges``, from ``labels`` (node, label), within ``n``
    rounds (see the module docstring)."""
    for _ in range(n):
        # (1) neighbor min; the round's input label rides along as
        # p_label so convergence is counted on the checkpoint, no join
        nbr_min = (edges.join(labels, edges.src == labels.node)
                   .groupBy("dst").agg(F.min("label").alias("nbr_min")))
        stepped = (
            labels.join(nbr_min, labels.node == nbr_min.dst, "left")
            .select("node",
                    F.least("label", F.coalesce("nbr_min", "label"))
                    .alias("label"),
                    F.col("label").alias("p_label")))
        # (2) pointer doubling: l(v) <- l(l(v)); halves path lengths
        # each round so chains converge in O(log n) rounds, not O(n)
        rep = stepped.select(F.col("node").alias("rep"),
                             F.col("label").alias("rep_label"))
        updated = _stats_fresh(
            stepped.join(rep, stepped.label == rep.rep, "left")
            .select("node",
                    F.least("label", F.coalesce("rep_label", "label"))
                    .alias("label"),
                    "p_label"))
        n_changed = updated.filter(
            F.col("label") != F.col("p_label")).count()
        labels = updated.select("node", "label")
        if n_changed == 0:
            return labels
    raise RuntimeError(exhausted)


def _stats_fresh(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint that also DROPS the plan's carried size
    statistics. ``Dataset.localCheckpoint`` preserves the origin
    plan's estimated sizeInBytes into the checkpoint's LogicalRDD,
    and the size-only estimator MULTIPLIES child sizes through every
    join — so an iterative algorithm that feeds checkpoints back into
    self-joins (pointer doubling) squares the carried number each
    round. Composed across an outer loop this grows
    double-exponentially: boruvka_msf round 4 stalled the driver for
    minutes multiplying ~10^6-digit BigIntegers inside
    SizeInBytesOnlyStatsPlanVisitor (jstack: BigInteger.multiplyToomCook3
    under LogicalPlanStats). Rebuilding the frame from the
    checkpointed InternalRow RDD resets stats to the bounded default
    (one scan, same data, no extra job). Falls back to the plain
    checkpoint if the JVM constructor ever disappears."""
    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf
        fresh = df.sparkSession._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False)
        return DataFrame(fresh, df.sparkSession)
    except Exception:   # pragma: no cover - Spark-internal dependency
        return ck


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    """Balanced unionByName tree (depth log2 n). A left-fold union
    chain nests the analyzer recursion once per input and overflows
    the JVM stack beyond a few hundred — exactly the shape of
    per-round accumulators (peel lists, BFS visited sets, backward-
    sweep dependencies) on deep graphs, where rounds ∝ depth/diameter.
    Inputs are typically checkpointed frames, so the union itself is
    pure metadata either way; only the tree SHAPE changes."""
    if not dfs:
        raise ValueError("_union_all: empty input")
    while len(dfs) > 1:
        dfs = [dfs[i].unionByName(dfs[i + 1]) if i + 1 < len(dfs)
               else dfs[i] for i in range(0, len(dfs), 2)]
    return dfs[0]
