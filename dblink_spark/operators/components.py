"""Connected components over a pair DataFrame — the pair→cluster closure.

Every near-dup operator in `queries/dedup.py` / `queries/vectors.py` emits
*pairs*; a real dedup pipeline then materializes transitive *groups* (pick
one survivor per component). The reference always ends in clusters too
(ref: analysis/package.scala:52-63, LinkageChain.scala:75-109 — cluster
sets, not pair lists), so this is the missing twin of G6/G7 for the
beyond-reference families.

Algorithm: alternating LARGE-STAR / SMALL-STAR (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — converges in
O(log n) rounds even on adversarial chain topologies, where plain
min-label propagation needs O(diameter) rounds. Each round is two
shuffles (a groupBy computing per-node neighborhood minima and an
equi-join rewriting edges), expressed entirely in DataFrame ops; the edge
set shrinks toward star graphs centered at each component's minimum node.

100-TB shape: no driver-side state beyond the loop counter and a
convergence count; per-round lineage is truncated with localCheckpoint so
iteration k doesn't replay rounds 1..k-1; edges stay (bigint, bigint)
rows — at most 2|E| of them — and every operation is a hash shuffle on
node id. Skew follows node degree: since r16 each star round's
neighborhood minimum rides an unordered WINDOW over the node id, so a
hub node's edge rows are buffered (spillably) in that node's window
state rather than map-side combined — WindowExec spills, so a hub is a
straggler ceiling, not an OOM, but the per-round exchange always carries
the full edge volume.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor LARGER than u to u's neighborhood minimum
    (including u itself): for each u, m = min(N(u) ∪ {u}); emit (v, m)
    for v ∈ N(u), v > u.

    r16 (guide §2.4 — remove shuffles outright): the neighborhood minimum
    rides an unordered WINDOW over u instead of the former
    groupBy(u).min + equi-join back; the window needs ONE hash exchange
    of the bidirectional edge relation where the join form shuffled it
    for the aggregate and again for the probe side (exchange reuse only
    saved the build side). Same rows out, one exchange fewer per round."""
    bidir = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mn = F.min("v").over(Window.partitionBy("u"))
    return (
        bidir.withColumn("mn", mn)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.least(F.col("u"), F.col("mn")).alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame, oriented: bool = False) -> DataFrame:
    """Orient edges large→small, then for each u connect u and all its
    smaller neighbors to the minimum: emit (v, m) for v ∈ N(u) ∪ {u},
    v ≠ m, where m = min(N(u)).

    ``oriented=True`` asserts the input already satisfies u > v row-wise
    and is distinct — true for every `_large_star` output (its rows are
    (v, least(u, mn)) with v strictly greater), so the alternation inside
    `connected_components` skips the canonicalization distinct: one full
    exchange + dedup aggregate saved per round (guide §2.4). The
    standalone path keeps the exact r15 semantics.

    The per-u minimum rides the same unordered-window form as
    `_large_star` (one exchange instead of groupBy + join back), and both
    star edges — (v, mn) for non-minimum neighbors plus the (u, mn)
    self-edge — explode ROW-LOCALLY out of the single windowed relation:
    the r15 shape unioned two branches over the same subtree, which
    evaluated the whole upstream star twice per round unless exchange
    reuse fired. The closing ``distinct`` dedupes the per-row self-edge
    copies exactly like it deduped the old union."""
    if oriented:
        canon = edges
    else:
        canon = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
    withm = canon.withColumn("mn", F.min("v").over(Window.partitionBy("u")))
    self_edge = F.struct(F.col("u").alias("su"), F.col("mn").alias("sv"))
    to_min = F.struct(F.col("v").alias("su"), F.col("mn").alias("sv"))
    both = F.when(
        F.col("v") != F.col("mn"), F.array(to_min, self_edge)
    ).otherwise(F.array(self_edge))
    return (
        withm.select(F.explode(both).alias("e"))
        .select(F.col("e.su").alias("u"), F.col("e.sv").alias("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    src: str = "v1",
    dst: str = "v2",
    max_rounds: int = 50,
    assume_distinct: bool = False,
) -> DataFrame:
    """Transitive closure of a pair set: ``(node, component)`` with
    ``component`` = the smallest node id in the node's connected component.
    Every node that appears in a NON-self pair gets exactly one output row
    (component minima label themselves). Self-pairs (u == v) carry no
    connectivity and are dropped up front — a node appearing ONLY in
    self-pairs is absent from the output, exactly like a node absent from
    ``pairs`` (pinned by tests/test_components.py); left-join the node
    universe afterwards if singleton rows are wanted.

    ``max_rounds`` is a diverged-loop guard; the algorithm provably
    converges in O(log n) alternations, so 50 covers any realistic graph.

    ``assume_distinct=True`` (r16, guide §2.4) skips the initial
    canonicalizing ``distinct`` — one full exchange + two aggregate
    passes of the edge set — for callers whose pair relation is unique
    by construction (every `bottomk_sketch_pairs` arm ends in a distinct
    or a per-pair aggregate, and the persisted pair tables round-trip
    exactly those rows). Correctness margin even if the contract is
    violated: each star round ends in its own ``distinct``, so duplicate
    input edges cannot change any round's OUTPUT (the windows' per-u
    minima are duplicate-insensitive) — at worst the first convergence
    signature is computed on the duplicated set, which only delays
    convergence detection by one round, never changes the fixpoint.
    """
    edges = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    if not assume_distinct:
        edges = edges.distinct()
    edges = edges.localCheckpoint(eager=True)
    if edges.isEmpty():
        return edges.select(
            F.col("u").alias("node"), F.col("v").alias("component")
        )

    def _sig(df: DataFrame):
        # one-job convergence probe: (count, order-insensitive hash-sum).
        # xxhash64 collisions could only FALSELY signal convergence, and the
        # exact exceptAll confirmation below catches that; a true fixpoint
        # always has an equal signature, so no convergence is ever missed.
        r = df.select(
            F.count("*").alias("n"),
            # decimal accumulator: summing raw int64 hashes overflows under
            # ANSI mode; decimal(38,0) input widens the sum to the max
            # precision, exact for ~1e19 same-sign 64-bit terms
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (r["n"], r["h"])

    sig = _sig(edges)
    for _ in range(max_rounds):
        # EAGER checkpoint, deliberately: with eager=False the checkpoint
        # only materializes when THIS DataFrame executes, but the probe
        # below derives a new aggregate plan that recomputes the full
        # untruncated lineage instead — measured no faster and up to ~60%
        # slower across runs (local[32] timing noise is large here).
        # oriented=True: _large_star output is distinct with u > v row-wise,
        # so the small-star canonicalization exchange is skipped (r16)
        stepped = _small_star(
            _large_star(edges), oriented=True
        ).localCheckpoint(eager=True)
        new_sig = _sig(stepped)
        # signature equality is necessary for set equality; only then pay
        # the exact exceptAll confirmation (once, on the final round,
        # instead of a count + set-difference job every round)
        if new_sig == sig and stepped.exceptAll(edges).isEmpty():
            edges = stepped
            break
        sig = new_sig
        # dropping the previous round's reference is the cleanup: checkpoint
        # blocks are freed by the ContextCleaner once the RDD is GC'd
        # (DataFrame.unpersist() is a no-op for localCheckpoint storage —
        # it only uncaches CacheManager entries)
        edges = stepped
    # gc hint (r5 ADVICE): in a long-lived driver, reference cycles can
    # delay the GC that lets the ContextCleaner free the rounds' checkpoint
    # blocks. ONE collect after convergence keeps the closure's garbage
    # from outliving the call — per-round collects measured ~0.85s/query
    # of pure overhead (~150ms each), so the hint lives here instead.
    import gc

    gc.collect()
    # fixpoint is a union of stars (u, m): every non-minimum node points at
    # its component minimum; minima label themselves
    nodes = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    return nodes.union(roots).distinct()
