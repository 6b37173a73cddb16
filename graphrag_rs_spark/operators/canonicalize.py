"""Stage D — entity canonicalization: entities_raw → clusters/linkmap.

The reference compares EVERY same-type pair with max-of
{Levenshtein, Jaro-Winkler, token-Jaccard, Soundex} similarity and grows
greedy clusters in entity-insertion order
(graphrag-rs string_similarity_linker.rs:68-127) — O(n²), impossible at
10^9 entities. The Spark-native design keeps the EXACT reference semantics
while making every step distributed:

1. **Blocking-key generation** — every entity emits, per normalized-name
   token: the token itself, its Soundex code, and its 4-char prefix and
   suffix grams, all namespaced by entity type. Pairs that can pass the
   0.85 max-of-metrics threshold virtually always share one of these
   (typos → Soundex; token add/drop like "New York (City)" → shared
   token; suffix stems like "Corp"/"Corporation" → shared 4-prefix).
   Interior character q-grams are deliberately NOT keys — see
   :func:`blocking_keys`. A cluster-parity test vs the oracle's all-pairs
   clustering guards recall (SURVEY.md §7.4 hard part 2).
2. **Block-size cap** — Zipf-hot tokens would create quadratic blocks;
   blocks over their tiered cap are not expanded (their pairs are
   overwhelmingly sub-threshold) except for rescue window pairs around
   stranded members. This is the explicit skew guard.
3. **Candidate pairs** — each surviving block is gathered once and
   expanded to its ``id1 < id2`` pairs in an Arrow-batched
   ``mapInPandas``, then deduplicated across blocks under the
   ``min_shared_blocks`` gate.
4. **Pair scoring** — Arrow-batched ``mapInPandas`` running the exact
   reference metric suite (rules/similarity.py), same-type gate + threshold
   (string_similarity_linker.rs:130-168).
5. **Connected components** — ``connected_components`` auto over the
   surviving pairs: a driver union-find up to 50k edges, then the
   two-level union-find contraction, then distributed large-star/small-star.
   CC components are a SUPERSET partition of the reference's greedy
   clusters (greedy only ever links pairs above threshold, i.e. along CC
   edges), so:
6. **Greedy replay per component over the match edges** — members and
   their scored match edges are cogrouped by a hash bucket of the
   component into a pandas UDF that replays the reference's greedy scan
   in deterministic first-appearance order (``order_key = (conv_id,
   chunk_idx, rank)``) as a pure adjacency walk: the scoring stage
   already answered "sim ≥ threshold?" for every blocked pair, so no
   pair_similarity call happens here and cost is O(E_c), not O(V_c²) — a
   giant junk component is a linear walk, not a straggler (see
   :func:`_greedy_replay_cogroup` for the exactness argument).
7. **Canonical selection** — highest confidence wins, ties break on the
   greater entity_id (deterministic stand-in for Rust ``max_by`` last-wins,
   string_similarity_linker.rs:106-124). The cluster roll-up (canonical
   name, cluster confidence, member count) is a window over
   ``cluster_id``, so the replay's output is scanned once.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphrag_rs_spark.config import PipelineConfig
from graphrag_rs_spark.functions import normalize_name_col
from graphrag_rs_spark.operators.graph import connected_components

PAIR_SCORE_SCHEMA = "id1 string, id2 string, score float"
CLUSTER_ASSIGN_SCHEMA = "entity_id string, cluster_id string"

def blocking_keys(entities: DataFrame) -> DataFrame:
    """entities(entity_id, name, entity_type, …) → (block_key, entity_id).

    Keys per normalized-name token: ``{type}|t:{token}``,
    ``{type}|s:{soundex(token)}``, and ``{type}|g:{prefix4}`` /
    ``{type}|g:{suffix4}`` — the token's 4-char END grams, not every
    interior 4-gram. Why the two end grams cover the metric suite:

    * Levenshtein needs d ≤ 2 AND sim ≥ 0.85, which forces len ≥ 7 — the
      prefix and suffix grams don't overlap, so ≤2 edits can break at most
      one of them (plus Soundex absorbs consonant-skeleton-preserving
      typos outright);
    * Jaro-Winkler pairs either carry the Winkler prefix bonus (shared
      prefix gram by definition) or need raw Jaro ≥ 0.85, which in
      practice means a glued/containment pair ("corporationmichael",
      "michaelanderson") sharing the suffix gram;
    * token-Jaccard ≥ 0.85 shares most whitespace tokens → token key.

    Interior grams ("tion", "nder") are Zipf-hot English substrings that
    created near-useless quadratic blocks — measured at 4k convs they
    inflated the pre-dedup self-join ~30x (>100M rows) for 154 extra
    scored pairs, all but a handful intra-component. Cluster parity vs the
    oracle's all-pairs greedy is the recall guard
    (tests/test_pipeline_e2e.py::test_cluster_assignment_parity).
    """
    normed = entities.select(
        "entity_id",
        "entity_type",
        normalize_name_col(F.col("name")).alias("norm_name"),
    )

    def gen_keys(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        from graphrag_rs_spark.rules.similarity import soundex

        for pdf in batches:
            out = []
            for eid, etype, norm in zip(
                pdf["entity_id"], pdf["entity_type"], pdf["norm_name"]
            ):
                keys = set()
                for tok in (norm or "").split():
                    keys.add(f"{etype}|t:{tok}")
                    keys.add(f"{etype}|s:{soundex(tok)}")
                    if len(tok) >= 4:
                        keys.add(f"{etype}|g:{tok[:4]}")
                        keys.add(f"{etype}|g:{tok[-4:]}")
                nk = len(keys)
                for k in keys:
                    out.append((k, eid, nk))
            yield pd.DataFrame(out, columns=["block_key", "entity_id", "n_keys"])

    # n_keys (total keys THIS entity generates) rides along so the pair
    # gate can recognize key-poor entities: a single-token name yields at
    # most 4 keys (token, soundex, 2 end-grams — 3 when prefix==suffix
    # gram), so a true variant pair involving one can structurally share
    # only 1-2 keys and must be exempt from min_shared_blocks (see
    # candidate_pairs). Constant per entity — no extra shuffle.
    return normed.mapInPandas(
        gen_keys, schema="block_key string, entity_id string, n_keys int"
    )


def candidate_pairs(
    entities: DataFrame, config: PipelineConfig | None = None
) -> DataFrame:
    """Blocked pair generation → distinct (id1, id2) with id1 < id2, each
    carrying the columns the scorer needs.

    Shape: ONE pass over the blocking keys — ``groupBy(block_key)``
    gathers each block's member ids, the size filter applies the tiered
    caps, and the ``expand_blocks`` ``mapInPandas`` expands each block to
    its C(n, 2) ordered pairs (or, over its cap, to rescue window pairs
    around stranded members). Without rescue (``hot_block_window=0``)
    there are two shuffles: the block gather and the shared-key-count
    pair dedupe. With rescue (the default) the stranded-entity probe adds
    the token-block sizing, anchored-id and stranded-flag exchanges over
    the locally checkpointed keys.
    """
    config = config or PipelineConfig()
    keys = blocking_keys(entities)
    if config.hot_block_window > 0:
        # the stranded-entity probe references `keys` from three subtrees
        # (token-block sizing, anchored anti-join, the gather itself) —
        # without materialization each re-runs the blocking UDF over the
        # entities cache and re-plans its exchange. One lazy local
        # checkpoint stores the slim (key, id, n_keys) rows once
        # (~45 B/row; one row per key, ~8 per entity) and every scan
        # reuses them. At extreme entity counts prefer recompute: disable
        # rescue (hot_block_window=0) and this materialization disappears
        # with it.
        keys = keys.localCheckpoint(eager=False)

    # gather blocks. Tiered caps for FULL C(n,2) expansion: exact-token
    # keys (|t:) keep the loose cap; derived keys (soundex |s:, end-gram
    # |g:) live in small key spaces whose blocks pile up just under the cap
    # at scale and carry almost only junk pairs — they get the tight cap
    # (see config.max_derived_block_size rationale). Blocks OVER their cap
    # are no longer a recall cliff for STRANDED entities: an entity with no
    # surviving exact-token block (single-token name whose token block is
    # hot or absent — its typo twin shares only derived keys) gets
    # sorted-neighborhood rescue pairs inside hot blocks (members sorted by
    # normalized name, window of hot_block_window neighbors around each
    # stranded member — O(#stranded·w)). Anchored members of hot blocks
    # are NOT window-paired: measured at 5k convs the indiscriminate SNM
    # variant ADDED hot-family pairs that changed greedy merge order and
    # cost 1.5 points of planted-truth recall (0.9661 → 0.9515) — extra
    # candidates are not free when downstream clustering is greedy.
    kind = F.substring(F.substring_index("block_key", "|", -1), 1, 1)
    cap = F.when(kind == "t", F.lit(config.max_block_size)).otherwise(
        F.lit(min(config.max_block_size, config.max_derived_block_size))
    )
    window = config.hot_block_window
    hard_max = (
        max(config.max_window_block_size, config.max_block_size)
        if window > 0
        else None
    )

    if window > 0:
        # stranded = no exact-token block of usable size [2, max_block_size].
        # Computed as the COMPLEMENT (all ids anti-join anchored ids) so
        # the flag joins back onto the big keys table from the SMALL side:
        # stranded entities are rare by construction (most names share a
        # token with someone), so AQE broadcasts them and the keys table
        # never shuffles; the anchored set itself only shuffles the token
        # subset of keys plus the slim entity-id column.
        tok = keys.where(kind == "t")
        usable = (
            tok.groupBy("block_key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where((F.col("_n") > 1) & (F.col("_n") <= config.max_block_size))
        )
        anchored_ids = (
            tok.join(usable, "block_key").select("entity_id").distinct()
        )
        stranded = (
            entities.select("entity_id")
            .distinct()
            .join(anchored_ids, "entity_id", "left_anti")
            .withColumn("_stranded", F.lit(True))
        )
        keys = keys.join(stranded, "entity_id", "left").withColumn(
            "_anchored", F.col("_stranded").isNull()
        ).drop("_stranded")
    else:
        keys = keys.withColumn("_anchored", F.lit(True))

    # members sort by entity_id, which embeds the normalized name
    # ({TYPE}_{normalize}) — the same neighborhood order a norm_name sort
    # gives within a type-scoped block, without shipping the name through
    # the gather shuffle a second time
    blocks = (
        keys.groupBy("block_key")
        .agg(
            F.array_sort(
                F.collect_set(F.struct("entity_id", "_anchored", "n_keys"))
            ).alias("members"),
            F.max(cap).alias("cap"),
        )
        .where(
            (F.size("members") > 1)
            & (
                (F.size("members") <= F.lit(hard_max)) if hard_max
                else (F.size("members") <= F.col("cap"))
            )
        )
        .select("members", "cap")
    )

    # expand each block to ordered pairs in an Arrow-batched pass: full
    # C(n,2) when the block is within its cap; rescue window pairs around
    # stranded members when over. NOT a nested higher-order expression:
    # HigherOrderFunction exprs are CodegenFallback (interpreted per
    # element — measured 3× slower than the whole previous self-join), and
    # not a self-join: that would scan the block-gather shuffle twice and
    # re-run the blocking UDF chain. Pair lists flush every ~1M rows so
    # one Arrow batch of big blocks (2048 rows × up to C(1024,2) pairs
    # each) never accumulates multi-GB in the Python worker before the
    # first yield.
    flush_rows = 1_000_000
    key_poor_max = config.key_poor_max_keys

    def expand_blocks(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from itertools import combinations

        import pandas as pd

        poor_max = key_poor_max

        out1: list[str] = []
        out2: list[str] = []
        outr: list[bool] = []
        outp: list[bool] = []

        def emit(a: str, b: str, rescue: bool, poor: bool) -> None:
            if a == b:
                return
            if b < a:
                a, b = b, a
            out1.append(a)
            out2.append(b)
            outr.append(rescue)
            outp.append(poor)

        for pdf in batches:
            for members, blk_cap in zip(pdf["members"], pdf["cap"]):
                ids = [m["entity_id"] for m in members]
                poor = [m["n_keys"] <= poor_max for m in members]
                n = len(ids)
                if n <= blk_cap:
                    for i, j in combinations(range(n), 2):
                        emit(ids[i], ids[j], False, poor[i] or poor[j])
                elif window > 0:
                    for i, m in enumerate(members):
                        if m["_anchored"]:
                            continue
                        for j in range(max(0, i - window),
                                       min(n, i + window + 1)):
                            emit(ids[i], ids[j], True, poor[i] or poor[j])
                if len(out1) >= flush_rows:
                    yield pd.DataFrame(
                        {"id1": out1, "id2": out2,
                         "rescue": outr, "keypoor": outp}
                    )
                    out1, out2, outr, outp = [], [], [], []
        if out1:
            yield pd.DataFrame(
                {"id1": out1, "id2": out2, "rescue": outr, "keypoor": outp}
            )

    # multi-pass blocking: keep pairs sharing >= min_shared_blocks keys
    # (true near-dups share many; the junk majority shares one). Two
    # bypasses of the gate:
    #  * rescue pairs — a stranded entity's only shared keys are hot
    #    derived blocks, so by construction it can rarely reach 2;
    #  * key-poor pairs — when the smaller side generates ≤ key_poor_max
    #    total keys (a single-token name: at most t+s+2 grams = 4), a true
    #    variant structurally shares only 1-2 keys ("Corp" ~ "Corporation"
    #    share exactly the g:corp gram), so the ≥2 requirement is
    #    unsatisfiable, not evidence of junk. Multi-token names (≥7 keys)
    #    still face the full gate — they are where the junk mass lives
    #    (hot-family pairs sharing one derived key).
    pairs = (
        blocks.mapInPandas(
            expand_blocks,
            schema="id1 string, id2 string, rescue boolean, keypoor boolean",
        )
        .groupBy("id1", "id2")
        .agg(
            F.count(F.lit(1)).alias("_nk"),
            F.max("rescue").alias("_rescue"),
            F.max("keypoor").alias("_keypoor"),
        )
        .where(
            (F.col("_nk") >= config.min_shared_blocks)
            | F.col("_rescue")
            | F.col("_keypoor")
        )
        .select("id1", "id2")
    )

    # BROADCAST the scorer meta onto the pair table: the candidate set is
    # the largest table in the whole canonicalization stage (tens of
    # millions of rows at 100k convs) while meta is one slim row per
    # distinct entity (~60 B × 388k ≈ 25 MB there). Shuffle-joining meta
    # would re-exchange the pair table TWICE (once per endpoint) right
    # after the dedupe shuffle — measured as the dominant non-scaling
    # fraction of the build on a single box (shuffle bandwidth does not
    # grow with cores the way it grows with executors). Broadcasting
    # leaves exactly ONE wide exchange in the stage: the (id1, id2)
    # dedupe itself. The broadcast grows with DISTINCT entities, not
    # corpus size: ~60 B per entity, so ~600 MB at ~10M entities, which
    # must fit the driver's and every executor's memory.
    meta = entities.select(
        "entity_id",
        "entity_type",
        normalize_name_col(F.col("name")).alias("norm_name"),
    )
    return (
        pairs.join(
            F.broadcast(meta.select(
                F.col("entity_id").alias("id1"),
                F.col("entity_type").alias("type1"),
                F.col("norm_name").alias("norm1"),
            )),
            "id1",
        )
        .join(
            F.broadcast(meta.select(
                F.col("entity_id").alias("id2"),
                F.col("entity_type").alias("type2"),
                F.col("norm_name").alias("norm2"),
            )),
            "id2",
        )
    )


def score_pairs(pairs: DataFrame, config: PipelineConfig | None = None) -> DataFrame:
    """Exact reference metric suite per pair; keeps score ≥ threshold.

    Two optimizations over a naive per-pair pair_similarity loop, both
    outcome-preserving (profiled on a 300k-candidate sample: 12.0 s →
    ~5 s, identical match sets):

    * **Levenshtein runs JVM-side** — Spark's codegen
      ``levenshtein(l, r, threshold)`` early-exits above the cap and costs
      ~1 µs/pair vs 12.5 µs for the Python banded DP; the similarity
      formula (1 − d/max_len, 0 past the cap) is reproduced exactly in
      the column expression.
    * **Jaro upper bound** skips the O(l₁·window) Python Jaro scan when it
      provably cannot change the outcome: true Jaro matches ``m`` are at
      most the character-multiset intersection ``m*`` (the match window
      only removes candidates) and the transposition term is ≤ 1, so
      ``jaro ≤ (m*/l₁ + m*/l₂ + 1)/3``; pushed through the Winkler prefix
      bonus this rejects ~64% of candidates for the cost of two Counters.
      Jaro-Winkler is computed whenever the bound reaches both the
      threshold and the best-so-far — so every KEPT pair carries the
      exact pair_similarity score, and every skipped computation belonged
      to a pair that is dropped either way.
    """
    config = config or PipelineConfig()
    threshold = config.link_min_similarity
    max_ed = config.link_max_edit_distance
    use_phonetic = config.link_use_phonetic
    fuzzy = config.link_fuzzy_matching

    if fuzzy:
        # exact levenshtein_similarity semantics: 1 - d/max_len when
        # d <= max_ed else 0.0; threshold'd JVM levenshtein returns -1
        # past the cap (codegen early-exit)
        d = F.levenshtein("norm1", "norm2", max_ed)
        max_len = F.greatest(F.length("norm1"), F.length("norm2"))
        pairs = pairs.withColumn(
            "_lev_sim",
            F.when(
                (d >= 0) & (max_len > 0),
                F.lit(1.0) - d.cast("double") / max_len,
            ).otherwise(
                # max_len == 0 means both empty => equal => 1.0
                F.when(max_len == 0, F.lit(1.0)).otherwise(F.lit(0.0))
            ),
        )
    else:
        pairs = pairs.withColumn("_lev_sim", F.lit(0.0))

    def score_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from collections import Counter

        import pandas as pd

        from graphrag_rs_spark.rules.similarity import (
            jaccard_similarity,
            jaro_winkler_similarity,
            phonetic_similarity,
        )

        for pdf in batches:
            out = []
            for id1, id2, t1, t2, n1, n2, lev in zip(
                pdf["id1"], pdf["id2"], pdf["type1"], pdf["type2"],
                pdf["norm1"], pdf["norm2"], pdf["_lev_sim"],
            ):
                if t1 != t2:
                    continue
                if n1 == n2:
                    out.append((id1, id2, 1.0))
                    continue
                best = lev
                j = jaccard_similarity(n1, n2)
                if j > best:
                    best = j
                if use_phonetic:
                    p = phonetic_similarity(n1, n2)
                    if p > best:
                        best = p
                # Jaro upper bound via multiset char intersection
                l1, l2 = len(n1), len(n2)
                if l1 and l2:
                    c1, c2 = Counter(n1), Counter(n2)
                    m = sum(
                        min(cnt, c2[ch]) for ch, cnt in c1.items() if ch in c2
                    )
                    if m:
                        jaro_ub = (m / l1 + m / l2 + 1.0) / 3.0
                        plen = 0
                        for a, b in zip(n1[:4], n2[:4]):
                            if a != b:
                                break
                            plen += 1
                        jw_ub = jaro_ub + plen * 0.1 * (1.0 - jaro_ub)
                        if jw_ub >= threshold and jw_ub > best:
                            jw = jaro_winkler_similarity(n1, n2)
                            if jw > best:
                                best = jw
                if best >= threshold:
                    out.append((id1, id2, best))
            yield pd.DataFrame(out, columns=["id1", "id2", "score"])

    return pairs.mapInPandas(score_batches, schema=PAIR_SCORE_SCHEMA)


def _greedy_replay_cogroup(
    members_pdf: "pd.DataFrame", edges_pdf: "pd.DataFrame"
) -> "pd.DataFrame":
    """Greedy clustering replayed over the SCORED MATCH EDGES
    (linker rs:79-103 semantics) for a UNION of connected components —
    the caller cogroups by a hash bucket of the component id; since match
    edges never cross components, every array below decomposes blockwise
    by component and the bucket-level answer equals the per-component
    answers exactly.

    The reference's greedy scan asks one question per (seed, later entity)
    pair: is sim ≥ threshold? The scoring stage already answered it for
    every blocked pair — a pair is a match edge iff it was blocked AND
    scored ≥ threshold — so the replay is a pure adjacency walk:

    * edge present → YES (the exact score was computed once, upstream);
    * blocked pair without an edge → scored < threshold → NO;
    * unblocked pair → NO, i.e. the blocking stage's recall bound
      (measured 35 of 683,489 true pairs at 4k convs) applied uniformly
      here too; the oracle-parity e2e test gates the approximation.

    A seed absorbs every still-unclustered neighbor. Neighbors EARLIER in
    scan order are provably already clustered when a seed is reached (the
    edge is symmetric: an earlier unclustered neighbor would have seeded
    first and absorbed this entity), so the reference's "scan later
    entities only" rule needs no explicit position check.

    Cost per component: O(E_c log E_c + V_c log V_c) for the sorts plus
    one O(E_c + V_c) walk — no pair_similarity calls and no O(V²) rescan,
    so a pathological junk component (6,372 members at 4k convs) costs
    its edge count, not its square.
    """
    from array import array

    import numpy as np
    import pandas as pd

    n = len(members_pdf)
    ids = members_pdf["entity_id"].to_numpy()
    confs = members_pdf["confidence"].to_numpy()

    # scan order: (conv_id, chunk_idx, rank, entity_id) — np.lexsort keys
    # are LAST-key-primary
    order = np.lexsort(
        (
            ids,
            members_pdf["rank"].to_numpy(),
            members_pdf["chunk_idx"].to_numpy(),
            members_pdf["conv_id"].to_numpy(),
        )
    )
    # pos[i] = scan position of original row i
    pos_of_row = np.empty(n, dtype=np.int64)
    pos_of_row[order] = np.arange(n)
    ids_by_pos = ids[order]
    confs_by_pos = confs[order]
    row_by_id = pd.Series(pos_of_row, index=ids)

    # The walk's outcome admits a closed characterization (the r4 serial
    # scan and this walk are proven pointwise equal, see below):
    #
    #   seed(q)   ⇔  q has NO seed neighbor earlier in scan order
    #   cluster(q) = q if seed(q), else the MIN-position earlier seed
    #                neighbor of q (the first seed whose scan turn
    #                reaches q absorbs it)
    #
    # Proof by induction over scan positions. If the walk reaches p
    # unclustered, p seeds and absorbs every unclustered neighbor; any
    # earlier neighbor r<p must already be clustered (else r would have
    # seeded at its own turn and absorbed p — contradiction), so
    # absorption only happens seed→later-neighbor, and a node q is
    # clustered before its own turn iff some earlier neighbor seeded —
    # the earliest such seed got there first. Hence the seed set is the
    # lexicographically-first maximal independent set under scan order,
    # and one pass in scan order decides it: every earlier neighbor of q
    # is decided by the time the pass reaches q, so q joins its first
    # (min-position) seed neighbor or seeds. Each edge is read at most
    # once, O(E + V) total; pinned equal to the per-position scan by
    # tests/test_graph_primitives.py::test_greedy_replay_matches_serial_walk.
    u = edges_pdf["id1"].map(row_by_id).to_numpy(dtype=np.int64)
    v = edges_pdf["id2"].map(row_by_id).to_numpy(dtype=np.int64)
    # one int64 key per edge (exact while n < 3·10⁹), ordered by (later
    # endpoint, earlier endpoint): sorted, it is a CSR of each member's
    # earlier neighbors, ascending, stored as 8-byte machine ints (a list
    # of Python ints costs ~3x the memory on a giant component)
    key = np.maximum(u, v) * n + np.minimum(u, v)
    key.sort()
    nbr = array("q", (key % n).tobytes())
    off = np.searchsorted(key, np.arange(n + 1) * n).tolist()
    root = array("q", range(n))
    seed = bytearray(n)
    for q in range(n):
        for p in nbr[off[q] : off[q + 1]]:
            if seed[p]:
                root[q] = p
                break
        else:
            seed[q] = 1
    root = np.frombuffer(root, dtype=np.int64)
    # canonical per cluster: max by (confidence, entity_id) — reference
    # max_by (string_similarity_linker.rs:106-124)
    assign = pd.DataFrame(
        {"root": root, "conf": confs_by_pos, "id": ids_by_pos}
    )
    canon_by_root = (
        assign.sort_values(["root", "conf", "id"])
        .groupby("root", sort=False)["id"]
        .last()
    )
    return pd.DataFrame(
        {
            "entity_id": ids_by_pos,
            "cluster_id": canon_by_root.loc[root].to_numpy(),
        }
    )


def canonicalize_entities(
    entities: DataFrame, config: PipelineConfig | None = None
) -> DataFrame:
    """entities_raw → clusters(entity_id, cluster_id, canonical_name,
    entity_type, confidence, member_count).

    ``cluster_id`` is the canonical member's entity_id (the reference's
    links map points every member at the canonical id, rs:117-124);
    singletons map to themselves without touching the greedy UDF.
    """
    config = config or PipelineConfig()
    pairs = candidate_pairs(entities, config)
    # matches is TINY (pairs above threshold) but expensive to produce
    # (blocking UDF + scoring UDF + joins); checkpoint it eagerly — the
    # CC's bounded collect and the replay's edge side each scan it and
    # would otherwise re-run the whole candidate chain
    matches = score_pairs(pairs, config).localCheckpoint(eager=True)

    cc = connected_components(matches, src="id1", dst="id2").localCheckpoint(
        eager=True
    )

    # only component members go through the greedy replay (tiny minority);
    # the replay consumes the scored match edges, so members carry only the
    # scan-order fields + confidence — no name/type strings in the shuffle.
    #
    # Cogroup key is a HASH BUCKET of the component, not the component
    # itself: a member's replay decision reads only its earlier neighbors
    # and components are edge-disjoint, so walking a UNION of components
    # in one scan order yields exactly the per-component answers (no edge
    # ever crosses components, so no seed can either). Grouping
    # per-component instead paid the Arrow slice + pandas-construction +
    # UDF-dispatch overhead once per component — tens of thousands of
    # sub-millisecond groups at 100k convs, the real bulk of the old
    # "serial replay" wall. Buckets cap the group count at ~4 per shuffle
    # partition while keeping every component intact inside one group;
    # the giant component's bucket is the longest task, bounded by the
    # O(E+V) scan-order walk.
    n_buckets = max(16, config.shuffle_partitions * 4)
    bucket = F.pmod(F.xxhash64("component"), F.lit(n_buckets))
    members = entities.join(cc, entities["entity_id"] == cc["id"]).select(
        "entity_id",
        "confidence",
        F.col("order_key.conv_id").alias("conv_id"),
        F.col("order_key.chunk_idx").alias("chunk_idx"),
        F.col("order_key.rank").alias("rank"),
        bucket.alias("bucket"),
    )
    # NB: the edge side re-aliases the grouping key — both sides descend
    # from the same `cc` plan, and cogrouping two children that share the
    # raw bucket attribute trips Spark's ambiguous-self-join check
    match_edges = matches.join(
        cc.select(F.col("id").alias("id1"), "component"), "id1"
    ).select(bucket.alias("ebucket"), "id1", "id2")
    assigned = (
        members.groupBy("bucket")
        .cogroup(match_edges.groupBy("ebucket"))
        .applyInPandas(
            lambda left, right: _greedy_replay_cogroup(left, right),
            schema=CLUSTER_ASSIGN_SCHEMA,
        )
    )

    with_cluster = entities.join(assigned, "entity_id", "left").select(
        "entity_id",
        "name",
        "entity_type",
        "confidence",
        F.coalesce("cluster_id", F.col("entity_id")).alias("cluster_id"),
    )

    # roll-up by window, not groupBy + self-join: a join back onto
    # with_cluster would scan it twice and run the replay UDF twice
    cluster = Window.partitionBy("cluster_id")
    return with_cluster.select(
        "entity_id",
        "cluster_id",
        F.max_by("name", F.struct("confidence", "entity_id"))
        .over(cluster).alias("canonical_name"),
        "entity_type",
        "confidence",
        F.max("confidence").over(cluster).alias("cluster_confidence"),
        F.count(F.lit(1)).over(cluster).alias("member_count"),
    )
