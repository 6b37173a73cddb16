"""Distributed graph primitives: connected components, degree, communities.

Connected components uses the alternating large-star / small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
the standard shuffle-efficient CC for DataFrame engines. It replaces BOTH

* the reference's greedy similarity clustering transitive closure
  (graphrag-rs string_similarity_linker.rs:68-127), and
* its BFS "community detection" (graph/analytics.rs:97-176),

which are single-process loops that cannot scale. Convergence is
O(log² n) rounds; each round is two shuffles (groupBy min + join). Labels
are numeric (xxhash64 of the string id) during iteration to keep shuffle
rows narrow; string ids are restored by one final join.

Small edge lists never reach the iterations: one bounded collect both
decides the strategy and fetches the edges, and the driver-side
union-find result goes back to Spark as an Arrow table, a JVM-only frame
that no Python worker re-runs when it is scanned. A row with a NULL
endpoint is not an edge, on every strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect all strictly-larger neighbors of u to min(Γ(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges to (larger, smaller); connect smaller neighbors + u to min."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbr_edges = (
        oriented.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = mins.select("u", F.col("m").alias("v"))
    return nbr_edges.union(self_edges).where(F.col("u") != F.col("v")).distinct()


def _min_roots(pairs) -> list[tuple[str, str]]:
    """Union-find over a stream of ``(a, b)`` edges: ``(node, root)`` for
    every node seen.

    A union hangs the larger root under the smaller one, so by induction
    every root is the minimum string id of its set, the component label
    the distributed path produces.
    """
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        for v in (a, b):
            if v not in parent:
                parent[v] = v
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return [(v, find(v)) for v in parent]


def _local_cc(spark, pairs) -> DataFrame:
    """Driver-side union-find over already-collected ``(a, b)`` edges.

    Same output contract as the distributed path (component = min string
    id). The result is built as a ``pyarrow.Table``, so Spark holds it as
    JVM-side Arrow batches: no Python RDD, no Python worker on any later
    scan. Callers bound the collect — this is the small-side fast path,
    not the scale path.
    """
    import pyarrow as pa

    roots = _min_roots(pairs)
    table = pa.table({
        "id": pa.array([v for v, _ in roots], pa.string()),
        "component": pa.array([r for _, r in roots], pa.string()),
    })
    return spark.createDataFrame(table, "id string, component string")


def _two_level_cc(
    edges: DataFrame, src: str, dst: str, n_edges: int | None = None
) -> DataFrame:
    """Executor-side union-find by contraction rounds — the mid-size path.

    Round 1 runs union-find independently inside each partition
    (``mapInPandas``, state carried across Arrow batches of the same
    partition) and emits each partition's star forest ``(id, local_root)``
    — at most one row per distinct node the partition saw, so a dense edge
    list (E ≫ V, e.g. a near-duplicate match graph) contracts to ≈ V rows
    per partition regardless of E. The union of per-partition star forests
    preserves exactly the original connectivity (standard contraction
    argument: nodes shared between partitions bridge their forests); the
    argument applies recursively, so when the input is large an
    intermediate round repartitions the forest onto a few partitions and
    contracts again, bounding what reaches the final merge. The last round
    runs on ONE partition in a single executor task, emitting the final
    ``(id, component=min string id)`` — never on the driver, Arrow-batched
    both ways. Cost: one narrow pass per round + small shuffles, vs
    O(log² n) × 2 full-width shuffles for the star iterations; the
    intermediate round keeps the single merge task from becoming a
    straggler on multi-million-edge inputs.
    """
    from collections.abc import Iterator as _It

    def _forest(batches: _It["pd.DataFrame"]) -> _It["pd.DataFrame"]:
        import pandas as pd

        pairs = (p for pdf in batches
                 for p in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]))
        yield pd.DataFrame(_min_roots(pairs), columns=["id", "root"])

    def _merge(batches: _It["pd.DataFrame"]) -> _It["pd.DataFrame"]:
        import pandas as pd

        pairs = (p for pdf in batches for p in zip(pdf["id"], pdf["root"]))
        yield pd.DataFrame(_min_roots(pairs), columns=["id", "component"])

    forest = edges.select(F.col(src), F.col(dst)).mapInPandas(
        _forest, schema="id string, root string"
    )
    if n_edges is not None and n_edges > 2_000_000:
        # intermediate contraction: per-partition forests can total
        # partitions × V rows. HASH-partition the forest by node id so
        # every claim about one id lands in the same contraction task —
        # then each of the 8 tasks emits ≤ (its distinct ids + their
        # roots) rows, bounding the final merge input by ~2·V regardless
        # of how dense the original edge list was (E plays no role past
        # round 1). A plain round-robin repartition here would let each
        # id's rows scatter across all 8 partitions and re-inflate the
        # merge input toward 8·V.
        forest = forest.repartition(8, F.col("id")).mapInPandas(
            _forest, schema="id string, root string"
        )
    return forest.repartition(1).mapInPandas(
        _merge, schema="id string, component string"
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    strategy: str = "auto",
    local_threshold: int = 50_000,
    two_level_threshold: int = 20_000_000,
    two_level_max_nodes: int = 8_000_000,
) -> DataFrame:
    """Edge list → (id string, component string) where component is the
    minimum string member id of each connected component.

    Rows with a NULL endpoint are dropped where the edge list is first
    projected: they are not edges, on any strategy.

    ``strategy='auto'``: one bounded collect of at most
    ``local_threshold + 1`` deduped edges decides and fetches, then picks:

    * ``local`` — driver union-find over that collect (50k edges ≈ a few
      MB, sub-second): iterative algorithms cost ~2 shuffles × rounds of
      fixed job overhead that dwarfs tiny inputs. The result is an
      Arrow-built, JVM-only frame (:func:`_local_cc`).
    * ``two_level`` — up to ``two_level_threshold`` edges AND an estimated
      ``two_level_max_nodes`` distinct nodes: per-partition union-find
      contraction + one single-task merge, all executor-side (see
      :func:`_two_level_cc`). This is the dense-graph path: a
      near-duplicate match graph routinely has E ≫ V (683k edges over 15k
      names at 4k convs), where star iterations pay ~6 shuffle rounds to
      discover what two passes of union-find see directly. The merge
      task's input is bounded by the NODE count (contraction emits ≤ one
      row per distinct id per task), so V — estimated with one
      approx_count_distinct pass, +10% slack for its error — is the gate
      that matters: 8M string nodes ≈ 1.5-2 GB of union-find dict in the
      single merge task. E only bounds round-1 work, which is
      partition-parallel either way.
    * ``distributed`` — alternating large-star/small-star above either
      bound; the only shape that survives billions of edges (or a sparse
      graph whose V alone would swamp one merge task).

    Above ``local_threshold`` the edges are counted once more to choose
    between the last two.

    Deterministic: all paths map components to the MINIMUM STRING id so
    callers see identical, stable representatives.
    """
    spark = edges.sparkSession
    edges = edges.select(F.col(src), F.col(dst)).dropna()
    if strategy == "auto":
        e_dedup = edges.distinct()
        # limit AFTER the distinct: duplicated edges must not push a small
        # graph off the local path
        head = e_dedup.limit(local_threshold + 1).collect()
        if len(head) <= local_threshold:
            return _local_cc(spark, head)
        n = e_dedup.count()
        if n <= two_level_threshold:
            v_est = (
                e_dedup.select(F.col(src).alias("id"))
                .union(e_dedup.select(F.col(dst).alias("id")))
                .agg(F.approx_count_distinct("id").alias("v"))
                .collect()[0]["v"]
            )
            if v_est * 1.1 <= two_level_max_nodes:
                return _two_level_cc(e_dedup, src, dst, n_edges=n)
        edges = e_dedup
    elif strategy == "local":
        return _local_cc(spark, edges.collect())
    elif strategy == "two_level":
        return _two_level_cc(edges.distinct(), src, dst)
    elif strategy != "distributed":
        # a typo like "two-level" must not silently run the heaviest
        # path (O(log² n) star-contraction shuffle rounds) instead of
        # the intended sub-second fast path
        raise ValueError(
            f"unknown strategy {strategy!r}: expected "
            "'auto' | 'local' | 'two_level' | 'distributed'"
        )
    ids = (
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .distinct()
    )
    # numeric surrogate labels keep the iterated shuffles narrow
    id_map = ids.select("id", F.xxhash64("id").alias("h")).localCheckpoint(eager=True)

    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .join(id_map.select(F.col("id").alias("s"), F.col("h").alias("u")), "s")
        .join(id_map.select(F.col("id").alias("d"), F.col("h").alias("v")), "d")
        .select("u", "v")
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    if e.isEmpty():
        return ids.select("id", F.col("id").alias("component"))

    prev_sig = None
    for _ in range(max_iterations):
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        # convergence: edge-set signature (count + xor of hashes) stable;
        # bit_xor is order-independent and cannot overflow under ANSI mode
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("s"),
        ).collect()[0]
        sig = (sig["n"], sig["s"])
        if sig == prev_sig:
            break
        prev_sig = sig

    # e is now a star forest: (member_h, root_h); roots map to themselves
    membership = e.select(F.col("u").alias("h"), F.col("v").alias("root_h"))
    membership = id_map.join(membership, "h", "left").select(
        "id", "h", F.coalesce("root_h", "h").alias("root_h")
    )
    # stable representative: min string id per root
    reps = membership.groupBy("root_h").agg(F.min("id").alias("component"))
    return membership.join(reps, "root_h").select("id", "component")


def degrees(edges: DataFrame, src: str = "subj", dst: str = "obj") -> DataFrame:
    """Edge count per node (graph/analytics.rs:69-89): each edge contributes
    one to both endpoints."""
    endpoints = edges.select(F.explode(F.array(F.col(src), F.col(dst))).alias("id"))
    return endpoints.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))


def communities(edges: DataFrame, src: str = "subj", dst: str = "obj") -> DataFrame:
    """Connected-component communities with sizes (graph/analytics.rs:97-176
    semantics: components-as-communities; stats per leiden.rs:106-120)."""
    cc = connected_components(edges, src=src, dst=dst)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("community_size"))
    return cc.join(sizes, "component").select(
        "id",
        F.col("component").alias("community_id"),
        "community_size",
    )
