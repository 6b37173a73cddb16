"""Single-process oracle twins for the driver correctness gate.

Each function computes — with pandas/numpy/hashlib only, no Spark — the
expected output of one ``queries()`` entry in ``__spark_entry__.py`` over
the driver's parquet tables. The dumps these produce are what the matching
``oracle_sql()`` entries read via DuckDB ``read_parquet``.

Independence statement (what each check actually pins):

* ``pagerank``, ``label_propagation``, ``summary_tree``, ``hybrid_search``,
  ``simhash`` — fully independent reimplementations (numpy power iteration,
  dict-based LPA, list-based tree build, pure-python BM25+RRF, hashlib md5
  bit-vote); these verify both the distributed composition AND the math.
* ``custom_ner``, ``semantic_chunks``, ``hash_embeddings`` — reuse the
  shared ``rules/`` / ``functions/`` pure-Python ports (the rule code IS
  the spec); these verify the distributed plumbing (partitioning, Arrow
  batching, ordering, schema), not the rule internals, which pytest pins
  against reference vectors separately.

Everything here runs on driver-table scale (sf0.01: 500 docs / 25 nations)
— the dumps are only produced at the correctness scale factor.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import numpy as np
import pandas as pd


def _read(sf_dir: str, name: str) -> pd.DataFrame:
    return pd.read_parquet(f"{sf_dir}/{name}.parquet")


def _norm_text(t: str) -> str:
    return re.sub(r"\s+", " ", (t or "").strip().lower())


# ---------------------------------------------------------------------------
# SimHash (md5 60-bit variant) — twin of operators/dedup.simhash_signatures
# with hash="md5"
# ---------------------------------------------------------------------------

def simhash_md5(sf_dir: str) -> pd.DataFrame:
    docs = _read(sf_dir, "documents")
    out = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        toks = _norm_text(text).split(" ")
        hashes = [
            int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
            for t in toks
        ]
        arr = np.asarray(hashes, dtype=np.uint64)
        if arr.size == 0:
            out.append((int(doc_id), 0))
            continue
        bits = ((arr[:, None] >> np.arange(60, dtype=np.uint64)) & 1).sum(axis=0)
        votes = bits * 2 > arr.size
        val = 0
        for i in np.nonzero(votes)[0]:
            val |= 1 << int(i)
        out.append((int(doc_id), int(val)))
    return pd.DataFrame(out, columns=["doc_id", "simhash"])


# ---------------------------------------------------------------------------
# PageRank on the nation chain graph — numpy power-iteration twin of
# operators/retrieval.pagerank (same damping/teleport/dangling/tol
# semantics, same iteration count and stopping rule)
# ---------------------------------------------------------------------------

def _nation_chain_edges(sf_dir: str) -> list[tuple[str, str]]:
    n = _read(sf_dir, "nation").sort_values(["n_regionkey", "n_nationkey"])
    edges = []
    for _, grp in n.groupby("n_regionkey"):
        ids = [f"n{k}" for k in grp["n_nationkey"]]
        edges.extend(zip(ids, ids[1:]))
    return edges


def pagerank_nation_chain(
    sf_dir: str, damping: float = 0.85, max_iter: int = 30, tol: float = 1e-6,
    check_every: int = 5,
) -> pd.DataFrame:
    edges = sorted(set(_nation_chain_edges(sf_dir)))
    nodes = sorted({u for e in edges for u in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out_deg = Counter(u for u, _ in edges)
    tp = np.full(n, 1.0 / n)
    ranks = tp.copy()
    dangling_nodes = [idx[v] for v in nodes if out_deg[v] == 0]
    for it in range(max_iter):
        inflow = np.zeros(n)
        for u, v in edges:
            inflow[idx[v]] += ranks[idx[u]] / out_deg[u]
        dangling = float(ranks[dangling_nodes].sum())
        new_ranks = (1.0 - damping) * tp + damping * (inflow + dangling * tp)
        delta = float(np.abs(new_ranks - ranks).sum())
        ranks = new_ranks
        # the Spark operator only pays a delta-check action every
        # check_every iterations — replicate its stopping rule exactly
        if ((it + 1) % check_every == 0 or it == max_iter - 1) and delta < tol:
            break
    return pd.DataFrame(
        {"id": nodes, "rank": [round(float(r), 9) for r in ranks]}
    )


# ---------------------------------------------------------------------------
# Label propagation on the nation band graph — dict-based twin of
# operators/analytics.label_propagation (synchronous, self-vote,
# min-label ties, stop on no-change or max_iter)
# ---------------------------------------------------------------------------

def _nation_band_edges(sf_dir: str) -> list[tuple[str, str]]:
    n = _read(sf_dir, "nation").sort_values(["n_regionkey", "n_nationkey"])
    edges = []
    for _, grp in n.groupby("n_regionkey"):
        ids = [f"n{k}" for k in grp["n_nationkey"]]
        for i, u in enumerate(ids):
            for j in range(i + 1, min(i + 3, len(ids))):
                edges.append((u, ids[j]))
    return edges


def label_propagation_band(sf_dir: str, max_iter: int = 10) -> pd.DataFrame:
    undirected = {tuple(sorted(e)) for e in _nation_band_edges(sf_dir)}
    adj: dict[str, set[str]] = defaultdict(set)
    for u, v in undirected:
        adj[u].add(v)
        adj[v].add(u)
    labels = {v: v for v in adj}
    for _ in range(max_iter):
        new_labels = {}
        for v in adj:
            votes = Counter(labels[nb] for nb in adj[v])
            votes[labels[v]] += 1
            top = max(votes.values())
            # most frequent label, ties -> min label (matches the Spark
            # window's (cnt desc, label asc) row_number pick)
            new_labels[v] = min(l for l, c in votes.items() if c == top)
        if new_labels == labels:
            break
        labels = new_labels
    return pd.DataFrame(
        sorted(labels.items()), columns=["id", "label"]
    )


# ---------------------------------------------------------------------------
# Custom NER over documents — rules/ner.py applied directly (plumbing twin)
# ---------------------------------------------------------------------------

def custom_ner(sf_dir: str, rules) -> pd.DataFrame:
    from graphrag_rs_spark.rules.ner import extract

    docs = _read(sf_dir, "documents")
    out = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        for ent in extract(text or "", list(rules)):
            out.append(
                (
                    str(doc_id), ent.text, ent.entity_type, ent.start,
                    ent.end, float(np.float32(ent.confidence)), ent.rule_name,
                )
            )
    return pd.DataFrame(
        out,
        columns=[
            "chunk_id", "text", "entity_type", "start", "end", "confidence",
            "rule_name",
        ],
    )


# ---------------------------------------------------------------------------
# Semantic chunks over the synthetic transcript fixture (plumbing twin)
# ---------------------------------------------------------------------------

def semantic_chunks(n_convs: int, seed: int = 42) -> pd.DataFrame:
    from graphrag_rs_spark.fixtures import generate_transcripts
    from graphrag_rs_spark.oracle import assemble
    from graphrag_rs_spark.rules.semantic_chunking import (
        SemanticChunkerConfig,
        semantic_chunk,
    )

    rows = generate_transcripts(n_convs, seed=seed)
    docs, _ = assemble(rows)
    cfg = SemanticChunkerConfig()
    out = []
    for conv_id in sorted(docs):
        for idx, ch in enumerate(semantic_chunk(docs[conv_id] or "", cfg)):
            out.append(
                (
                    conv_id, conv_id, idx, f"{conv_id}_s{idx}", ch["content"],
                    ch["start_sentence"], ch["end_sentence"],
                    ch["sentence_count"],
                )
            )
    return pd.DataFrame(
        out,
        columns=[
            "conv_id", "doc_id", "chunk_idx", "chunk_id", "text",
            "start_sentence", "end_sentence", "sentence_count",
        ],
    )


# ---------------------------------------------------------------------------
# Hash embeddings over documents (plumbing twin): dim + squared norm after
# the float32 quantization the Spark UDF applies
# ---------------------------------------------------------------------------

def hash_embeddings(sf_dir: str, dim: int = 32, max_doc_id: int = 200) -> pd.DataFrame:
    from graphrag_rs_spark.functions.embeddings import embed_text

    docs = _read(sf_dir, "documents")
    docs = docs[docs["doc_id"] < max_doc_id]
    out = []
    cache: dict[str, np.ndarray] = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        vec = np.asarray(embed_text(text or "", dim, cache), dtype=np.float32)
        acc = 0.0
        for x in vec:  # sequential double sum == F.aggregate fold order
            acc += float(x) * float(x)
        out.append((int(doc_id), int(len(vec)), round(acc, 6)))
    return pd.DataFrame(out, columns=["doc_id", "dim", "sq_norm"])


# ---------------------------------------------------------------------------
# Hierarchical summary tree — independent list-based twin of
# operators/summarize.build_summary_tree over the driver documents grouping
# ---------------------------------------------------------------------------

def summary_tree(
    sf_dir: str,
    group_mod: int = 64,
    merge_size: int = 5,
    max_summary_length: int = 200,
    keywords_per_node: int = 10,
) -> pd.DataFrame:
    from graphrag_rs_spark.operators.retrieval import KEYWORD_STOPWORDS
    from graphrag_rs_spark.rules.summarize import extractive_summary

    docs = _read(sf_dir, "documents")

    def tf_keywords(text: str) -> list[str]:
        toks = [
            t for t in (text or "").strip().lower().split()
            if len(t) > 3 and t not in KEYWORD_STOPWORDS
        ]
        counts = Counter(toks)
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        return sorted(w for w, _ in top[:keywords_per_node])

    by_group: dict[str, list[tuple[int, str, str]]] = defaultdict(list)
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        by_group[f"g{int(doc_id) % group_mod}"].append(
            (int(doc_id), str(doc_id), text or "")
        )

    rows = []
    for gid, chunks in by_group.items():
        chunks.sort()
        nodes = []
        for node_idx, (_, chunk_id, text) in enumerate(chunks):
            nodes.append(
                {
                    "doc_id": gid,
                    "level": 0,
                    "node_idx": node_idx,
                    "node_id": chunk_id,
                    "content": text,
                    "summary": extractive_summary(text, max_summary_length),
                    "keywords": tf_keywords(text),
                    "chunk_ids": [chunk_id],
                }
            )
        rows.extend(nodes)
        level = 0
        current = nodes
        while len(current) > 1:
            level += 1
            merged = []
            for grp in range(0, (len(current) + merge_size - 1) // merge_size):
                members = current[grp * merge_size:(grp + 1) * merge_size]
                content = "\n\n".join(m["content"] for m in members)
                kw = sorted(set().union(*[set(m["keywords"]) for m in members]))
                kw = kw[:keywords_per_node]
                chunk_ids = [c for m in members for c in m["chunk_ids"]]
                merged.append(
                    {
                        "doc_id": gid,
                        "level": level,
                        "node_idx": grp,
                        "node_id": f"level_{level}_{grp}",
                        "content": content,
                        "summary": extractive_summary(
                            content, max_summary_length
                        ),
                        "keywords": kw,
                        "chunk_ids": chunk_ids,
                    }
                )
            rows.extend(merged)
            current = merged
    return pd.DataFrame(
        [
            (r["doc_id"], r["level"], r["node_idx"], r["node_id"], r["summary"])
            for r in rows
        ],
        columns=["doc_id", "level", "node_idx", "node_id", "summary"],
    )


# ---------------------------------------------------------------------------
# HippoRAG PPR retrieval — independent dict/numpy twin of
# operators/hipporag.hipporag_retrieve over the events-table fixture
# (entities = event types, passages = users)
# ---------------------------------------------------------------------------

def hipporag_retrieval(
    sf_dir: str,
    top_k_facts: int = 20,
    passage_node_weight: float = 0.05,
    damping: float = 0.5,
    max_iter: int = 30,
    tol: float = 1e-6,
    check_every: int = 5,
    top_k_results: int = 10,
) -> pd.DataFrame:
    ev = _read(sf_dir, "events")

    pairs = sorted(
        {
            (f"e:{t}", f"p:u{u}")
            for t, u in zip(ev["event_type"], ev["user_id"])
        }
    )
    user_counts = ev.groupby("user_id").size()
    mx = int(user_counts.max())
    passage_scores = {
        f"p:u{u}": n / mx for u, n in user_counts.items()
    }
    per_user = defaultdict(set)
    for t, u in zip(ev["event_type"], ev["user_id"]):
        per_user[u].add(f"e:{t}")
    fact_counts: dict[tuple[str, str], int] = defaultdict(int)
    for types in per_user.values():
        ts = sorted(types)
        for i in range(len(ts)):
            for j in range(i + 1, len(ts)):
                fact_counts[(ts[i], ts[j])] += 1
    facts = sorted(
        ((s, o, float(n)) for (s, o), n in fact_counts.items()),
        key=lambda x: (-x[2], x[0], x[1]),
    )[:top_k_facts]

    # entity weights: fact score / passage count, averaged, min-max
    passages_of = defaultdict(set)
    for e, p in pairs:
        passages_of[e].add(p)
    w_sum: dict[str, float] = defaultdict(float)
    w_cnt: dict[str, int] = defaultdict(int)
    for s, o, score in facts:
        for e in (s, o):
            np_cnt = len(passages_of.get(e, ()))
            if np_cnt >= 1:
                w_sum[e] += score / np_cnt
                w_cnt[e] += 1
    entity_w = {e: w_sum[e] / w_cnt[e] for e in w_sum}

    def minmax(d: dict) -> dict:
        if not d:
            return d
        lo, hi = min(d.values()), max(d.values())
        if abs(hi - lo) > 1e-10:
            return {k: (v - lo) / (hi - lo) for k, v in d.items()}
        return d

    entity_w = minmax(entity_w)
    passage_w = minmax(
        {p: s * passage_node_weight for p, s in passage_scores.items()}
    )
    reset: dict[str, float] = defaultdict(float)
    for k, v in entity_w.items():
        reset[k] += v
    for k, v in passage_w.items():
        reset[k] += v

    # graph = entity-passage membership edges + entity-entity edges from
    # ALL co-occurring pairs (the Spark query unions the full facts table,
    # not only the top-k slice); PPR semantics and stopping rule mirror
    # operators/retrieval.pagerank exactly
    edges = set(pairs) | {(s, o) for (s, o) in fact_counts}
    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    total_reset = sum(reset.get(v, 0.0) for v in nodes)
    if total_reset > 0:
        tp = np.array([reset.get(v, 0.0) / total_reset for v in nodes])
    else:
        tp = np.full(n, 1.0 / n)
    out_deg = Counter(u for u, _ in edges)
    dangling_nodes = [idx[v] for v in nodes if out_deg[v] == 0]
    ranks = tp.copy()
    for it in range(max_iter):
        inflow = np.zeros(n)
        for u, v in edges:
            inflow[idx[v]] += ranks[idx[u]] / out_deg[u]
        dangling = float(ranks[dangling_nodes].sum())
        new_ranks = (1.0 - damping) * tp + damping * (inflow + dangling * tp)
        delta = float(np.abs(new_ranks - ranks).sum())
        ranks = new_ranks
        if ((it + 1) % check_every == 0 or it == max_iter - 1) and delta < tol:
            break

    scored = [
        (v, float(ranks[idx[v]]))
        for v in nodes
        if v in passage_scores
    ]
    scored.sort(key=lambda kv: (-kv[1], kv[0]))
    return pd.DataFrame(
        [(p, round(s, 6)) for p, s in scored[:top_k_results]],
        columns=["passage_id", "ppr_score"],
    )


# ---------------------------------------------------------------------------
# Hybrid search — independent BM25 + hash-embedding KNN + RRF twin of
# operators/retrieval.hybrid_search (reference retrieval/hybrid.rs:168,
# HOW_IT_WORKS.md:870-886)
# ---------------------------------------------------------------------------

def hybrid_search(
    sf_dir: str,
    query: str,
    k_each: int = 20,
    rrf_k: int = 60,
    top_n: int = 10,
    dim: int = 32,
) -> pd.DataFrame:
    from graphrag_rs_spark.functions.embeddings import embed_text
    from graphrag_rs_spark.operators.retrieval import bm25_tokenize

    docs = _read(sf_dir, "documents")
    ids = [int(i) for i in docs["doc_id"]]
    texts = [t or "" for t in docs["text"]]

    # --- BM25 side (Lucene idf, normalized tf; bm25.rs:117-192) ---
    tok_lists = [bm25_tokenize(t) for t in texts]
    dls = [len(t) for t in tok_lists]
    n_docs = len(ids)
    avgdl = sum(dls) / n_docs if n_docs else 0.0
    qterms = list(dict.fromkeys(bm25_tokenize(query)))
    k1, b = 1.2, 0.75
    df_counts = {
        term: sum(1 for toks in tok_lists if term in toks) for term in qterms
    }
    scores = {}
    for doc_id, toks, dl in zip(ids, tok_lists, dls):
        s = 0.0
        cnt = Counter(toks)
        for term in qterms:
            if cnt[term] == 0 or df_counts[term] == 0:
                continue
            tf = cnt[term] / dl
            idf = math.log(n_docs / df_counts[term]) + 1.0
            s += idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        if s > 0:
            scores[doc_id] = s
    bm_ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k_each]

    # --- vector side: hash embeddings, cosine vs query embedding ---
    cache: dict[str, np.ndarray] = {}
    qv = np.asarray(embed_text(query, dim, cache), dtype=np.float64)
    sims = []
    for doc_id, text in zip(ids, texts):
        dv = np.asarray(embed_text(text, dim, cache), dtype=np.float32).astype(
            np.float64
        )
        na, nb = float(np.sqrt((qv * qv).sum())), float(np.sqrt((dv * dv).sum()))
        cos = float((qv * dv).sum()) / (na * nb) if na > 0 and nb > 0 else 0.0
        sims.append((doc_id, cos))
    knn_ranked = sorted(sims, key=lambda kv: (-kv[1], kv[0]))[:k_each]

    # --- RRF fusion (score = sum 1/(rrf_k + rank)) ---
    fused: dict[int, list] = defaultdict(lambda: [0.0, 0])
    for rank, (doc_id, _) in enumerate(bm_ranked, start=1):
        fused[doc_id][0] += 1.0 / (rrf_k + rank)
        fused[doc_id][1] += 1
    for rank, (doc_id, _) in enumerate(knn_ranked, start=1):
        fused[doc_id][0] += 1.0 / (rrf_k + rank)
        fused[doc_id][1] += 1
    out = sorted(fused.items(), key=lambda kv: (-kv[1][0], kv[0]))[:top_n]
    return pd.DataFrame(
        [
            (doc_id, round(sc, 9), n)
            for doc_id, (sc, n) in out
        ],
        columns=["item_id", "rrf_score", "n_lists"],
    )


# ---------------------------------------------------------------------------
# Fallback relationship extraction — twin of
# operators/fallback_relations.extract_relationships_fallback, itself a port
# of the reference's infer_relationship_with_context
# (entity/llm_relationship_extractor.rs:266-441). Independent if-chain
# reimplementation (the Spark side is a single JVM `when` cascade), so the
# hash check pins both the pair dataflow and the arm dispatch.
# ---------------------------------------------------------------------------


def _infer_relationship(t1, t2, n1, n2, ctx_lower):
    """rs:321-441, keyword probes against the window cut from the
    lowercased context (byte offsets ≡ char offsets on the ASCII fixture)."""
    p1, p2 = ctx_lower.find(n1.lower()), ctx_lower.find(n2.lower())
    if p1 < 0 or p2 < 0:
        return None
    w = ctx_lower[min(p1, p2): min(max(p1, p2) + 50, len(ctx_lower))]

    def any_kw(*kws):
        return any(k in w for k in kws)

    pair = (t1, t2)
    personish = ("PERSON", "CHARACTER", "SPEAKER")
    if pair in (("PERSON", "PERSON"), ("CHARACTER", "CHARACTER"),
                ("SPEAKER", "SPEAKER")):
        if any_kw("said", "replied", "responded"):
            return ("RESPONDS_TO", 0.85)
        if any_kw("asked", "questioned"):
            return ("QUESTIONS", 0.85)
        if any_kw("taught", "explained"):
            return ("TEACHES", 0.80)
        if any_kw("discussed", "spoke about"):
            return ("DISCUSSES", 0.80)
        if any_kw("loved", "admired"):
            return ("ADMIRES", 0.85)
        if any_kw("argued", "disagreed"):
            return ("ARGUES_WITH", 0.85)
        if any_kw("met", "encountered"):
            return ("MEETS", 0.75)
        return ("INTERACTS_WITH", 0.60)
    if t1 in personish and t2 == "CONCEPT":
        if any_kw("discussed", "spoke of"):
            return ("DISCUSSES", 0.80)
        if any_kw("defined", "described"):
            return ("DEFINES", 0.85)
        if any_kw("questioned", "wondered about"):
            return ("QUESTIONS", 0.80)
        return ("MENTIONS", 0.70)
    if t1 == "CONCEPT" and t2 in personish:
        return ("DISCUSSED_BY", 0.70)
    if pair in (("PERSON", "ORGANIZATION"), ("ORGANIZATION", "PERSON")):
        if any_kw("works for", "employed by"):
            return ("WORKS_FOR", 0.90)
        if any_kw("founded", "leads"):  # "CEO" probe unreachable (lowered w)
            return ("LEADS", 0.90)
        return ("ASSOCIATED_WITH", 0.65)
    if pair in (("PERSON", "LOCATION"), ("CHARACTER", "LOCATION")):
        if any_kw("born in", "from"):
            return ("BORN_IN", 0.90)
        if any_kw("lives in", "resides in"):
            return ("LIVES_IN", 0.85)
        if any_kw("traveled to", "visited"):
            return ("VISITED", 0.80)
        return ("LOCATED_IN", 0.70)
    if pair in (("ORGANIZATION", "LOCATION"), ("LOCATION", "ORGANIZATION")):
        if any_kw("headquartered", "based in"):
            return ("HEADQUARTERED_IN", 0.90)
        return ("LOCATED_IN", 0.75)
    if pair == ("CONCEPT", "CONCEPT"):
        if any_kw("similar to", "related to"):
            return ("RELATED_TO", 0.75)
        if any_kw("opposite", "contrasts with"):
            return ("CONTRASTS_WITH", 0.80)
        return ("ASSOCIATED_WITH", 0.60)
    if pair in (("PERSON", "EVENT"), ("CHARACTER", "EVENT")):
        return ("PARTICIPATES_IN", 0.75)
    if pair == ("EVENT", "LOCATION"):
        return ("OCCURS_IN", 0.80)
    if abs(p1 - p2) < 100:
        return ("CO_OCCURS", 0.50)
    return None


def fallback_relations(dump_dir: str) -> pd.DataFrame:
    """Twin of the `fallback_relations` driver query: in-chunk entity pairs
    (entity_id ascending, one name per (chunk, entity) = min surface form)
    run through the rs:321-441 arm dispatch over the kg stage dumps."""
    mentions = pd.read_parquet(f"{dump_dir}/kg_mentions.parquet")
    chunks = pd.read_parquet(f"{dump_dir}/kg_chunks.parquet")
    ents = (
        mentions.groupby(["chunk_id", "entity_id"], as_index=False)
        .agg(name=("name", "min"), entity_type=("entity_type", "min"))
    )
    text_of = dict(zip(chunks["chunk_id"], chunks["text"]))
    rows = []
    for chunk_id, grp in ents.groupby("chunk_id"):
        ctx = (text_of.get(chunk_id) or "").lower()
        members = sorted(
            zip(grp["entity_id"], grp["name"], grp["entity_type"])
        )
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                e1, e2 = members[i], members[j]
                got = _infer_relationship(e1[2], e2[2], e1[1], e2[1], ctx)
                if got is not None:
                    rows.append((chunk_id, e1[0], e2[0], got[0], got[1]))
    return pd.DataFrame(
        rows,
        columns=[
            "chunk_id", "source_entity_id", "target_entity_id",
            "relation_type", "confidence",
        ],
    )


# ---------------------------------------------------------------------------
# Pattern-mode gleaning loop (gleaning_extractor.rs:112-223 density-gate
# analogue): independent single-process recomposition of
# operators/extraction.extract_gleaning — round-1 extraction with the
# configured types, then chunks below the entity target re-extract with the
# widened type set and REPLACE their row (entities AND triples)
# ---------------------------------------------------------------------------

def gleaning_extraction(n_convs: int, seed: int = 42) -> pd.DataFrame:
    from graphrag_rs_spark.config import PipelineConfig
    from graphrag_rs_spark.fixtures import generate_transcripts
    from graphrag_rs_spark.oracle import assemble
    from graphrag_rs_spark.rules.chunking import chunk_document
    from graphrag_rs_spark.rules.extraction import (
        extract_entities,
        extract_relationships,
    )

    cfg = PipelineConfig(max_gleaning_rounds=2)
    base = tuple(cfg.all_entity_types)
    widened = base + ("CONCEPT",)
    target = max(1, cfg.gleaning_entity_target)
    docs, _ = assemble(
        generate_transcripts(n_convs, seed=seed), cfg.turn_separator
    )
    out = []
    for conv_id in sorted(docs):
        for idx, (_s, _e, text) in enumerate(
            chunk_document(
                docs[conv_id] or "",
                chunk_size=cfg.chunk_size,
                overlap=cfg.chunk_overlap,
                min_chunk_size=cfg.min_chunk_size,
                chunker=cfg.chunker,
            )
        ):
            chunk_id = f"{conv_id}_{idx}"
            ents = extract_entities(text, base, cfg.min_confidence)
            if len(ents) < target:
                ents = extract_entities(text, widened, cfg.min_confidence)
            tris = (
                extract_relationships(ents, text)
                if cfg.extract_relationships else []
            )
            for rank, e in enumerate(ents):
                out.append(
                    ("ent", chunk_id, rank, e.entity_id, e.name,
                     e.entity_type, float(np.float32(e.confidence)))
                )
            for k, (subj, obj, pred) in enumerate(tris):
                out.append(("tri", chunk_id, k, subj, pred, obj, -1.0))
    return pd.DataFrame(
        out, columns=["kind", "chunk_id", "k", "a", "b", "c", "v"]
    )


# ---------------------------------------------------------------------------
# Hybrid-mode extraction (setconfig.rs:1780-1794 -> lib.rs:383 fusion):
# pattern extraction + the DeterministicStubClient's derived "LLM" output,
# fused by an independent reimplementation of llm_extraction.fuse_rows'
# gleaning-merge semantics (in-place replacement on strictly-higher
# confidence, append never-seen LLM names, pattern-first triple dedupe)
# ---------------------------------------------------------------------------

def hybrid_extraction(n_convs: int, seed: int = 42) -> pd.DataFrame:
    from graphrag_rs_spark.config import PipelineConfig
    from graphrag_rs_spark.fixtures import generate_transcripts
    from graphrag_rs_spark.operators.llm_extraction import (
        DeterministicStubClient,
    )
    from graphrag_rs_spark.oracle import assemble
    from graphrag_rs_spark.rules.chunking import chunk_document
    from graphrag_rs_spark.rules.extraction import (
        entity_id_for,
        extract_entities,
        extract_relationships,
    )

    cfg = PipelineConfig()
    types = tuple(cfg.all_entity_types)
    docs, _ = assemble(
        generate_transcripts(n_convs, seed=seed), cfg.turn_separator
    )
    out = []
    for conv_id in sorted(docs):
        for idx, (_s, _e, text) in enumerate(
            chunk_document(
                docs[conv_id] or "",
                chunk_size=cfg.chunk_size,
                overlap=cfg.chunk_overlap,
                min_chunk_size=cfg.min_chunk_size,
                chunker=cfg.chunker,
            )
        ):
            chunk_id = f"{conv_id}_{idx}"
            # pattern side (the `existing` set of the gleaning merge) —
            # ONE extraction feeds both the entity rows and the pairing
            p_extracted = extract_entities(text, types, cfg.min_confidence)
            p_ents = [
                (e.entity_id, e.name, e.entity_type,
                 float(np.float32(e.confidence)))
                for e in p_extracted
            ]
            p_tris = [
                (s, o, p)
                for s, o, p in extract_relationships(p_extracted, text)
            ] if cfg.extract_relationships else []
            # "LLM" side: the stub's public derivation + _to_rows semantics
            # (fixed confidence 0.9, {TYPE}_{normalize} ids, name->id triples)
            derived = DeterministicStubClient.derive(text)
            l_ents, name_to_id = [], {}
            for e in derived["entities"]:
                eid = entity_id_for(e["name"], e["type"])
                name_to_id[e["name"].lower()] = eid
                l_ents.append(
                    (eid, e["name"], e["type"], float(np.float32(0.9)))
                )
            l_tris, seen_t = [], set()
            for r in derived["relationships"]:
                s = name_to_id.get(r["source"].lower())
                t = name_to_id.get(r["target"].lower())
                if s and t:
                    tri = (s, t, r["description"] or "RELATED_TO")
                    if tri not in seen_t:
                        seen_t.add(tri)
                        l_tris.append(tri)
            # fusion (fuse_rows semantics, reimplemented)
            l_by_name = {}
            for le in l_ents:
                l_by_name.setdefault(le[1].lower(), le)
            p_names = {pe[1].lower() for pe in p_ents}
            fused = [
                l_by_name[pe[1].lower()]
                if pe[1].lower() in l_by_name
                and l_by_name[pe[1].lower()][3] > pe[3]
                else pe
                for pe in p_ents
            ]
            fused += [le for le in l_ents if le[1].lower() not in p_names]
            tris, seen = [], set()
            for tri in p_tris + l_tris:
                if tri not in seen:
                    seen.add(tri)
                    tris.append(tri)
            for rank, (eid, name, etype, conf) in enumerate(fused):
                out.append(("ent", chunk_id, rank, eid, name, etype, conf))
            for k, (subj, obj, pred) in enumerate(tris):
                out.append(("tri", chunk_id, k, subj, pred, obj, -1.0))
    return pd.DataFrame(
        out, columns=["kind", "chunk_id", "k", "a", "b", "c", "v"]
    )
