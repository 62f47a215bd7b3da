"""Connected components over near-duplicate pair sets.

Pairwise dedup output (minhash / simhash / embedding bands) is not yet
deduplication: the pipeline must group pairs into CLUSTERS and keep one
representative per cluster.  Transitive closure is a graph problem —
this module provides the distributed building block.

Algorithm: MIN-LABEL PROPAGATION + POINTER DOUBLING.  Every node
starts labeled with its own id; each round every node first takes the
minimum label among itself and its neighbours (one equi-join + one
min-aggregate), then JUMPS to its label's label (one self-join) — the
pointer-doubling step of Shiloach-Vishkin-style CC.  Propagation alone
needs O(diameter) rounds (a 10k-hop adversarial near-dup chain = 10k
driver-synchronized rounds at 100 TB — r5 verdict #4); the doubling
step spreads labels over distance 2^r after r rounds, so convergence
is O(log diameter) with one extra equi-join per round.  All arithmetic
is min over int64 — deterministic under any partitioning, so the
result is bit-stable.

The driver-side loop runs one small action per round (a LIMIT-1
changed-row probe) — the standard shape for iterative algorithms on
Spark (same cost model as GraphX/GraphFrames' propagation loops).

Reference scope note: the reference engine has no graph operators at
all (SURVEY.md §2.2); this is part of the training-data-pipeline layer
the task mandates on top of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..runtime import release


def connected_components(
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 64,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``, where
    component is the minimum node id reachable through the undirected
    edge set.  Raises if the loop hits ``max_iter`` without converging
    (a silent early stop would return WRONG labels).

    Each round = propagate (min over self + neighbour labels) + jump
    (label <- label's label), so label information crosses distance
    2^r after r rounds: a D-hop chain converges in ~log2(D) rounds
    (pinned on a 10k-hop path in tests/test_functions.py — 64 rounds
    therefore covers any graph that fits in int64 ids; the default is
    a backstop, not a tuning knob).  The result reads the last round's
    local checkpoint, which stays stored for the life of the session;
    every earlier round's is freed."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .persist()
    )
    labels = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .persist()
    )
    converged = False
    for _ in range(max_iter):
        nb = und.join(labels, und["v"] == labels["node"]).select(
            F.col("u").alias("node"), F.col("lbl")
        )
        prop = (
            labels.select("node", "lbl")
            .unionByName(nb)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
        )
        # pointer-doubling: follow the label one hop (labels only ever
        # decrease, so target.lbl <= lbl and the jump is itself a min;
        # the target row always exists — every lbl value is a node id).
        # localCheckpoint (eager) instead of persist: an iterative loop
        # that only caches still GROWS the logical plan every round —
        # by round ~15 even printing the plan tree OOMs the driver
        # (AdaptiveSparkPlanExec.generateTreeString, observed on the
        # 15-hop path graph in pytest).  Checkpointing truncates the
        # lineage so every round starts from a flat scan.  The previous
        # round's labels are freed with runtime.release once the probe
        # has read them: unpersist() does nothing on a local
        # checkpoint, so each round's blocks would stay.  On a real
        # cluster prefer reliable checkpoint(dir) for fault tolerance;
        # local is correct and deterministic here.
        tgt = prop.select(
            F.col("node").alias("t_node"), F.col("lbl").alias("t_lbl")
        )
        new = (
            prop.join(tgt, prop["lbl"] == tgt["t_node"])
            .select("node", F.col("t_lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.select("node", F.col("lbl").alias("old")).alias("o"), "node")
            .filter(F.col("lbl") != F.col("old"))
            .limit(1)
            .count()
        )
        release(labels)
        labels = new
        if changed == 0:
            converged = True
            break
    und.unpersist()
    if not converged:
        release(labels)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return labels.select("node", F.col("lbl").alias("component"))


def connected_components_oracle_sql(pairs_sql: str, *, src: str = "id_a", dst: str = "id_b") -> str:
    """Recursive-CTE transitive closure: component = min reachable id.
    O(sum of component^2) intermediate rows — fine for the short
    near-dup components the gate corpora produce; the engine side never
    materializes the closure."""
    return f"""
WITH RECURSIVE p AS ({pairs_sql}),
e AS (
  SELECT {src} AS u, {dst} AS v FROM p
  UNION
  SELECT {dst} AS u, {src} AS v FROM p
),
reach AS (
  SELECT u AS node, u AS lbl FROM e
  UNION
  SELECT e.u AS node, reach.lbl FROM reach JOIN e ON e.v = reach.node
)
SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
"""
