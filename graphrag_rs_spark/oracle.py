"""Single-process Python oracle for triple-parity (P/R) testing.

Implements the reference's END-TO-END deterministic build semantics with
NO Spark: assemble → chunk → extract → merge → greedy-cluster → re-point.
The string-level rules are the shared ports in ``rules/`` (they ARE the
spec); the *composition* is implemented independently of the Spark
operators — in particular clustering uses the reference's greedy O(n²)
scan in first-appearance order (string_similarity_linker.rs:79-103), while
the Spark side uses blocking + LSH-style candidate pairs + connected
components. The e2e test measures triple P/R between the two, so any
divergence introduced by the distributed design (blocking recall, CC
transitivity, canonical tie-breaks) is what the ≥0.95 gate actually checks.

Deliberate deterministic tie-break (both sides): canonical member of a
cluster = max by (confidence, entity_id). The reference's Rust ``max_by``
keeps the LAST maximal element in greedy-seed order, which is not
reproducible under distribution; the P/R tolerance absorbs this.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field

from graphrag_rs_spark.config import PipelineConfig
from graphrag_rs_spark.rules.chunking import chunk_document
from graphrag_rs_spark.rules.extraction import (
    extract_entities,
    extract_relationships,
)
from graphrag_rs_spark.rules.similarity import normalize_string, pair_similarity


@dataclass
class OracleResult:
    documents: dict[str, str]                      # conv_id -> full_text
    turn_offsets: dict[str, list[tuple[int, int, int]]]  # conv_id -> [(turn_idx, s, e)]
    chunks: list[dict]                             # chunk rows
    entities: dict[str, dict]                      # entity_id -> merged entity
    triples_raw: list[tuple[str, str, str, str]]   # (subj, obj, pred, chunk_id)
    links: dict[str, str] = field(default_factory=dict)  # entity_id -> canonical
    triples: set[tuple[str, str, str]] = field(default_factory=set)
    clusters: list[dict] = field(default_factory=list)
    node_stats: dict[str, dict] = field(default_factory=dict)
    mentions: list[dict] = field(default_factory=list)   # per-mention rows
    # (subj, pred, obj) -> sorted set of source chunk ids (post re-point)
    triple_contexts: dict[tuple[str, str, str], set] = field(default_factory=dict)


def assemble(rows: list[dict], separator: str = "\n") -> tuple[dict, dict]:
    """rows of transcripts → (conv_id → full_text, conv_id → turn offsets)."""
    by_conv: dict[str, list] = defaultdict(list)
    for r in rows:
        by_conv[r["conv_id"]].append((r["turn_idx"], r["text"] or ""))
    docs, offsets = {}, {}
    for conv_id, turns in by_conv.items():
        turns.sort()
        pos = 0
        offs = []
        parts = []
        for turn_idx, text in turns:
            offs.append((turn_idx, pos, pos + len(text)))
            parts.append(text)
            pos += len(text) + len(separator)
        docs[conv_id] = separator.join(parts)
        offsets[conv_id] = offs
    return docs, offsets


def run_oracle(rows: list[dict], config: PipelineConfig | None = None) -> OracleResult:
    config = config or PipelineConfig()
    docs, offsets = assemble(rows, config.turn_separator)

    # --- chunk + extract (per conversation, insertion order) -------------
    chunks = []
    entities: dict[str, dict] = {}
    entity_order: list[str] = []  # first-appearance order (greedy seed order)
    triples_raw: list[tuple[str, str, str, str]] = []
    result_mentions: list[dict] = []

    # deterministic scan order: sorted conv_id (the Spark side's replay order
    # key is (conv_id, chunk_idx, rank), so both sides share one defined order)
    for conv_id in sorted(docs):
        text = docs[conv_id]
        for idx, (start, end, chunk_text) in enumerate(
            chunk_document(
                text,
                chunk_size=config.chunk_size,
                overlap=config.chunk_overlap,
                min_chunk_size=config.min_chunk_size,
                chunker=config.chunker,
            )
        ):
            chunk_id = f"{conv_id}_{idx}"
            chunks.append(
                {"conv_id": conv_id, "chunk_id": chunk_id, "text": chunk_text,
                 "start": start, "end": end}
            )
            ents = extract_entities(
                chunk_text, config.all_entity_types, config.min_confidence
            )
            for e in ents:
                for (m_start, m_end) in e.mentions:
                    result_mentions.append(
                        {
                            "chunk_id": chunk_id,
                            "conv_id": conv_id,
                            "entity_id": e.entity_id,
                            "name": e.name,
                            "entity_type": e.entity_type,
                            "start": m_start,
                            "end": m_end,
                            "confidence": e.confidence,
                        }
                    )
                cur = entities.get(e.entity_id)
                if cur is None:
                    entities[e.entity_id] = {
                        "entity_id": e.entity_id,
                        "name": e.name,
                        "entity_type": e.entity_type,
                        "confidence": e.confidence,
                        "mention_count": len(e.mentions),
                        "aliases": {e.name},
                    }
                    entity_order.append(e.entity_id)
                else:
                    # doc-level merge (graph/mod.rs:210-232): max confidence;
                    # deterministic name: max by (confidence, name)
                    if (e.confidence, e.name) > (cur["confidence"], cur["name"]):
                        cur["name"] = e.name
                    cur["confidence"] = max(cur["confidence"], e.confidence)
                    cur["mention_count"] += len(e.mentions)
                    cur["aliases"].add(e.name)
            if config.extract_relationships:
                for subj, obj, pred in extract_relationships(ents, chunk_text):
                    triples_raw.append((subj, obj, pred, chunk_id))

    result = OracleResult(docs, offsets, chunks, entities, triples_raw)
    result.mentions = result_mentions

    # --- greedy clustering (string_similarity_linker.rs:68-127) ----------
    order = entity_order
    clustered: set[str] = set()
    clusters: list[list[str]] = []
    ent_norm = {
        eid: normalize_string(entities[eid]["name"]) for eid in order
    }
    for i, ei in enumerate(order):
        if ei in clustered:
            continue
        cluster = [ei]
        clustered.add(ei)
        for ej in order[i + 1:]:
            if ej in clustered:
                continue
            sim = pair_similarity(
                ent_norm[ei], ent_norm[ej],
                entities[ei]["entity_type"], entities[ej]["entity_type"],
                max_edit_distance=config.link_max_edit_distance,
                use_phonetic=config.link_use_phonetic,
                fuzzy_matching=config.link_fuzzy_matching,
                pre_normalized=True,
            )
            if sim >= config.link_min_similarity:
                cluster.append(ej)
                clustered.add(ej)
        clusters.append(cluster)

    links: dict[str, str] = {}
    for cluster in clusters:
        canonical = max(
            cluster, key=lambda eid: (entities[eid]["confidence"], eid)
        )
        for eid in cluster:
            links[eid] = canonical
        result.clusters.append(
            {
                "cluster_id": canonical,
                "canonical_name": entities[canonical]["name"],
                "members": sorted(cluster),
            }
        )
    result.links = links

    # --- re-point + dedupe triples (gleaning_extractor.rs:418-435) -------
    final: set[tuple[str, str, str]] = set()
    contexts: dict[tuple[str, str, str], set] = defaultdict(set)
    for subj, obj, pred, chunk_id in triples_raw:
        s = links.get(subj, subj)
        o = links.get(obj, obj)
        if s == o:
            continue  # merged endpoints → self-loop → drop (both sides)
        final.add((s, pred, o))
        contexts[(s, pred, o)].add(chunk_id)
    result.triples = final
    result.triple_contexts = dict(contexts)

    # --- node stats: degree + CC communities ------------------------------
    degree: dict[str, int] = defaultdict(int)
    adj: dict[str, set[str]] = defaultdict(set)
    for s, _p, o in final:
        degree[s] += 1
        degree[o] += 1
        adj[s].add(o)
        adj[o].add(s)
    all_nodes = {links.get(e, e) for e in entities}
    seen: set[str] = set()
    for node in sorted(all_nodes):
        if node in seen:
            continue
        comp = []
        stack = [node]
        seen.add(node)
        while stack:
            cur = stack.pop()
            comp.append(cur)
            for nb in adj[cur]:
                if nb not in seen:
                    seen.add(nb)
                    stack.append(nb)
        cid = min(comp)
        for n in comp:
            result.node_stats[n] = {
                "degree": degree.get(n, 0),
                "community_id": cid,
                "community_size": len(comp),
            }
    return result


def _f32(x: float) -> float:
    """Round-trip through float32 — the Spark extraction schema stores
    confidences as FloatType, so the dump must quantize identically for the
    driver's exact value-hash compare (float32→float64 upcast is exact)."""
    import numpy as np

    return float(np.float32(x))


def stage_tables(result: OracleResult, config: PipelineConfig | None = None) -> dict[str, list[dict]]:
    """Render the oracle result as the driver-checkable stage tables.

    Column names, types, and array-to-string canonicalization ("|"-joined
    sorted distinct) match the ``queries()`` projections in
    ``__spark_entry__.py`` exactly; the driver compares the Spark pipeline
    against a parquet dump of these rows via DuckDB. This is an
    independent single-process implementation of the same reference
    semantics (see module docstring), so the compare is a genuine
    distributed-vs-oracle equivalence check.
    """
    config = config or PipelineConfig()

    chunks = [
        {
            "conv_id": c["conv_id"],
            "doc_id": c["conv_id"],
            "chunk_idx": int(c["chunk_id"].rsplit("_", 1)[1]),
            "chunk_id": c["chunk_id"],
            "text": c["text"],
            "start": c["start"],
            "end": c["end"],
        }
        for c in result.chunks
    ]

    mentions = [
        {**m, "confidence": _f32(m["confidence"])} for m in result.mentions
    ]

    entities_raw = [
        {
            "entity_id": e["entity_id"],
            "name": e["name"],
            "entity_type": e["entity_type"],
            "confidence": _f32(e["confidence"]),
            "mention_count": int(e["mention_count"]),
            "aliases": "|".join(sorted(e["aliases"])),
        }
        for e in result.entities.values()
    ]

    links = result.links
    ents = result.entities
    members_of: dict[str, list[str]] = defaultdict(list)
    for eid in ents:
        members_of[links.get(eid, eid)].append(eid)

    clusters = []
    for canonical, members in members_of.items():
        cluster_conf = _f32(max(ents[m]["confidence"] for m in members))
        for m in members:
            clusters.append(
                {
                    "entity_id": m,
                    "cluster_id": canonical,
                    "canonical_name": ents[canonical]["name"],
                    "entity_type": ents[m]["entity_type"],
                    "confidence": _f32(ents[m]["confidence"]),
                    "cluster_confidence": cluster_conf,
                    "member_count": len(members),
                }
            )

    nodes = []
    for canonical, members in members_of.items():
        aliases: set[str] = set()
        for m in members:
            aliases |= ents[m]["aliases"]
        nodes.append(
            {
                "cluster_id": canonical,
                "name": ents[canonical]["name"],
                "entity_type": ents[canonical]["entity_type"],
                "confidence": _f32(max(ents[m]["confidence"] for m in members)),
                "mention_count": int(sum(ents[m]["mention_count"] for m in members)),
                "member_count": len(members),
                "aliases": "|".join(sorted(aliases)),
            }
        )

    rel_conf = _f32(config.relationship_confidence)
    edges = [
        {
            "subj": s,
            "pred": p,
            "obj": o,
            "confidence": rel_conf,
            "context": "|".join(sorted(result.triple_contexts[(s, p, o)])),
        }
        for (s, p, o) in result.triples
    ]

    node_stats = [
        {
            "cluster_id": nid,
            "degree": int(st["degree"]),
            "community_id": st["community_id"],
            "community_size": int(st["community_size"]),
        }
        for nid, st in result.node_stats.items()
    ]

    return {
        "kg_chunks": chunks,
        "kg_mentions": mentions,
        "kg_entities_raw": entities_raw,
        "kg_clusters": clusters,
        "kg_nodes": nodes,
        "kg_edges": edges,
        "kg_node_stats": node_stats,
    }


def precision_recall(
    predicted: set[tuple], expected: set[tuple]
) -> tuple[float, float]:
    if not predicted and not expected:
        return 1.0, 1.0
    tp = len(predicted & expected)
    precision = tp / len(predicted) if predicted else 0.0
    recall = tp / len(expected) if expected else 0.0
    return precision, recall
