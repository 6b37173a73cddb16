"""Batched-async LLM extraction behind the extraction table's row contract.

The reference's semantic mode calls a live model per chunk with
Microsoft-GraphRAG-style prompts, a gleaning continuation loop, and a
multi-strategy JSON parser (graphrag-core/src/entity/llm_extractor.rs:
29-120 extract/gleaning flow, :185-245 parse strategies; prompt texts
graphrag-core/src/entity/prompts.rs:8-117). This module reproduces that
dataflow Spark-side with the pieces a 1000-executor batch job needs and a
sandbox cannot fake:

* **prompt builders** matching the reference's three prompts (extraction,
  gleaning continuation, completion check) and its JSON output schema;
* **a tolerant response parser** with the reference's fallback ladder
  (direct JSON → markdown fence → first JSON object in text → empty);
* **an Arrow-batched ``mapInPandas`` stage** that issues one async request
  per chunk with BOUNDED concurrency per Python worker (semaphore), retry
  with exponential backoff (the reference retries once after 2 s,
  llm_extractor.rs:158-172 — here configurable), and per-chunk error
  isolation (a chunk whose calls exhaust retries yields an empty
  extraction, never a dead task — at 100 TB a flaky endpoint must not
  kill a stage);
* **the per-chunk gleaning loop** (extract → completion check → continue
  → merge-new, up to ``max_rounds``, gleaning_extractor.rs:112-223) run
  INSIDE the async task so every round of every chunk shares the same
  concurrency budget;
* **hybrid fusion** in the same task: each chunk's pattern rows are
  extracted once its batch's requests return and merged with its LLM
  rows by the gleaning merge rule (:func:`fuse_rows`).

No live model exists in this sandbox, so the client is a constructor-
injected protocol (``acomplete(prompt) -> str``); tests drive the full
path with a recorded-response client against the reference's JSON schema.
The deterministic pattern extractor remains the parity anchor (SURVEY §5).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame

from graphrag_rs_spark.config import PipelineConfig
from graphrag_rs_spark.operators.extraction import EXTRACTION_SCHEMA, pattern_rows
from graphrag_rs_spark.rules.extraction import entity_id_for, find_mentions

# ---------------------------------------------------------------------------
# Prompts (entity/prompts.rs:8-117 — same structure, JSON output contract)
# ---------------------------------------------------------------------------

EXTRACTION_PROMPT = """-Goal-
Given a text document and a list of entity types, identify all entities \
of those types and all relationships among them.

-Steps-
1. For each entity give: name (capitalized), type (one of [{entity_types}]), \
description.
2. For each pair of clearly related entities give: source, target, \
description, strength (0-1).
3. Return output as JSON: {{"entities": [{{"name": ..., "type": ..., \
"description": ...}}], "relationships": [{{"source": ..., "target": ..., \
"description": ..., "strength": 0.8}}]}}

-Real Data-
######################
Entity Types: {entity_types}
Text: {input_text}
######################
Output:
"""

GLEANING_PROMPT = """-Goal-
You previously extracted entities and relationships from a text document. \
Identify any additional entities or relationships you missed.

Previously identified entities:
{previous_entities}

Previously identified relationships:
{previous_relationships}

Return ONLY the NEW entities and relationships, same JSON format. If none, \
return empty arrays.

-Real Data-
######################
Entity Types: {entity_types}
Text: {input_text}
######################
Output:
"""

COMPLETION_PROMPT = """Based on the text below and the entities/\
relationships already extracted, are there any significant entities or \
relationships that have been missed?

Text:
{input_text}

Current Entities ({entity_count}):
{entities_summary}

Current Relationships ({relationship_count}):
{relationships_summary}

Respond with ONLY "YES" if the extraction is complete and thorough, or \
"NO" if there are still significant entities or relationships missing.

Answer (YES or NO):
"""


def build_extraction_prompt(text: str, entity_types: tuple[str, ...]) -> str:
    return EXTRACTION_PROMPT.format(
        entity_types=", ".join(entity_types), input_text=text
    )


def build_gleaning_prompt(
    text: str, entity_types: tuple[str, ...], entities: list[dict],
    relationships: list[dict],
) -> str:
    return GLEANING_PROMPT.format(
        entity_types=", ".join(entity_types),
        input_text=text,
        previous_entities="\n".join(
            f"- {e['name']} ({e['type']})" for e in entities
        ) or "(none)",
        previous_relationships="\n".join(
            f"- {r['source']} -> {r['target']}" for r in relationships
        ) or "(none)",
    )


def build_completion_prompt(
    text: str, entities: list[dict], relationships: list[dict]
) -> str:
    return COMPLETION_PROMPT.format(
        input_text=text,
        entity_count=len(entities),
        entities_summary="\n".join(f"- {e['name']}" for e in entities)
        or "(none)",
        relationship_count=len(relationships),
        relationships_summary="\n".join(
            f"- {r['source']} -> {r['target']}" for r in relationships
        ) or "(none)",
    )


# ---------------------------------------------------------------------------
# Response parsing (llm_extractor.rs:185-245 fallback ladder)
# ---------------------------------------------------------------------------

_FENCE_RE = re.compile(r"```(?:json)?\s*(.*?)```", re.DOTALL)


def _coerce_output(obj) -> dict | None:
    if not isinstance(obj, dict):
        return None
    ents, rels = [], []
    for e in obj.get("entities") or []:
        if isinstance(e, dict) and e.get("name") and e.get("type"):
            ents.append({
                "name": str(e["name"]),
                "type": str(e["type"]).upper(),
                "description": str(e.get("description", "")),
            })
    for r in obj.get("relationships") or []:
        if isinstance(r, dict) and r.get("source") and r.get("target"):
            try:
                strength = float(r.get("strength", 0.5))
            except (TypeError, ValueError):
                strength = 0.5
            rels.append({
                "source": str(r["source"]),
                "target": str(r["target"]),
                "description": str(r.get("description", "")),
                "strength": strength,
            })
    return {"entities": ents, "relationships": rels}


def parse_extraction_response(response: str) -> dict:
    """Tolerant parse: direct JSON, then the first markdown code fence,
    then the first balanced ``{...}`` object in the text; an unparseable
    response yields an empty extraction (never an exception) — exactly the
    reference's degradation order (llm_extractor.rs:185-245)."""
    for candidate in _json_candidates(response):
        try:
            out = _coerce_output(json.loads(candidate))
        except (json.JSONDecodeError, ValueError):
            continue
        if out is not None:
            return out
    return {"entities": [], "relationships": []}


def _json_candidates(response: str) -> Iterator[str]:
    yield response
    for m in _FENCE_RE.finditer(response):
        yield m.group(1)
    start = response.find("{")
    while start != -1:
        depth = 0
        for i in range(start, len(response)):
            if response[i] == "{":
                depth += 1
            elif response[i] == "}":
                depth -= 1
                if depth == 0:
                    yield response[start:i + 1]
                    break
        start = response.find("{", start + 1)


# ---------------------------------------------------------------------------
# Async client protocol + retry/backoff
# ---------------------------------------------------------------------------

@dataclass
class LLMCallPolicy:
    """Per-call resilience knobs (reference retries once after 2 s,
    llm_extractor.rs:158-172; batch jobs want both configurable)."""

    max_retries: int = 2
    backoff_s: float = 2.0
    backoff_mult: float = 2.0


async def _call_with_retry(client, prompt: str, policy: LLMCallPolicy) -> str:
    import asyncio

    delay = policy.backoff_s
    last: Exception | None = None
    for attempt in range(policy.max_retries + 1):
        try:
            return await client.acomplete(prompt)
        except Exception as e:  # noqa: BLE001 — endpoint faults are data here
            last = e
            if attempt == policy.max_retries:
                break
            await asyncio.sleep(delay)
            delay *= policy.backoff_mult
    raise last if last else RuntimeError("LLM call failed")


def completion_says_complete(response: str) -> bool:
    """YES/NO completion-check parse (llm_extractor.rs:144-146): the
    response is trimmed + uppercased and extraction is complete iff it
    CONTAINS "YES" anywhere (the reference's ``starts_with("YES") ||
    contains("YES")`` — the first arm is subsumed by the second). The
    substring match is deliberate parity, quirks included: "no, but
    yesterday…" and "EYES ONLY" both read as complete, "affirmative"
    does not."""
    return "YES" in response.strip().upper()


def merge_entity_data(existing: list[dict], new: list[dict]) -> list[dict]:
    """Length-based entity merge (gleaning_extractor.rs:229-272), the
    LightRAG rule: key is the LOWERCASE NAME ONLY (type is not part of the
    key), re-inserting ``existing`` is last-wins, and a ``new`` entity
    replaces the held one only when its description is STRICTLY longer.
    The reference returns HashMap values in arbitrary order; here insertion
    order, which is deterministic and parity-neutral (downstream keys on
    entity id, not position)."""
    merged: dict[str, dict] = {}
    for e in existing:
        merged[e["name"].lower()] = e
    for e in new:
        key = e["name"].lower()
        cur = merged.get(key)
        if cur is None or len(e["description"]) > len(cur["description"]):
            merged[key] = e
    return list(merged.values())


def deduplicate_triples(triples: list[tuple]) -> list[tuple]:
    """gleaning_extractor.rs:416-435 — dedupe key ``{src}->{tgt}:{type}``
    (the predicate IS part of the key: two different relation types between
    the same pair both survive), first occurrence kept."""
    seen: set[tuple] = set()
    out = []
    for t in triples:
        if t not in seen:
            seen.add(t)
            out.append(t)
    return out


async def _glean_chunk(
    client,
    text: str,
    entity_types: tuple[str, ...],
    max_rounds: int,
    policy: LLMCallPolicy,
) -> dict:
    """One chunk's full gleaning conversation (gleaning_extractor.rs:
    112-223): extract → completion check → continuation. Entities merge
    per round via :func:`merge_entity_data` (longer description wins);
    relationships APPEND raw across rounds and dedupe once at the end, in
    :func:`_to_rows`, after names resolve to ids — exactly the reference's
    order of operations (merge at :200-204, final dedupe at :212)."""
    raw = await _call_with_retry(
        client, build_extraction_prompt(text, entity_types), policy
    )
    out = parse_extraction_response(raw)
    all_ents: list[dict] = list(out["entities"])
    all_rels: list[dict] = list(out["relationships"])
    for _ in range(1, max_rounds):
        check = await _call_with_retry(
            client,
            build_completion_prompt(text, all_ents, all_rels),
            policy,
        )
        if completion_says_complete(check):
            break
        raw = await _call_with_retry(
            client,
            build_gleaning_prompt(text, entity_types, all_ents, all_rels),
            policy,
        )
        new = parse_extraction_response(raw)
        if not new["entities"] and not new["relationships"]:
            break
        all_ents = merge_entity_data(all_ents, new["entities"])
        all_rels.extend(new["relationships"])
    return {"entities": all_ents, "relationships": all_rels}


def _to_rows(out: dict, text: str) -> tuple[list, list]:
    """ExtractionOutput → the extraction table's entity and triple rows.
    Entity ids follow the reference's ``{TYPE}_{normalize}`` rule and
    mentions are every literal occurrence in the chunk (llm_extractor.rs:
    278-335); confidence is the reference's fixed 0.9 for LLM-extracted
    entities."""
    ent_rows = []
    name_to_id = {}
    for rank, e in enumerate(out["entities"]):
        eid = entity_id_for(e["name"], e["type"])
        name_to_id[e["name"].lower()] = eid
        mentions = find_mentions(text, e["name"])
        ent_rows.append(
            (eid, e["name"], e["type"], 0.9, rank,
             [(s, t) for s, t in mentions])
        )
    triples = []
    for r in out["relationships"]:
        s = name_to_id.get(r["source"].lower())
        t = name_to_id.get(r["target"].lower())
        if s and t:  # reference drops rels referencing unknown entities
            pred = r["description"] or "RELATED_TO"
            triples.append((s, t, pred))
    return ent_rows, deduplicate_triples(triples)


def fuse_rows(pattern: tuple[list, list], llm: tuple[list, list]) -> tuple[list, list]:
    """Hybrid fusion of one chunk's pattern and LLM rows (the reference's
    "hybrid" approach, setconfig.rs:1780-1787 → lib.rs:383 — LLM + pattern
    with the gleaning merge as the fusion rule); each side is the
    ``(entity rows, triples)`` pair of the extraction row contract.

    Entities merge like :func:`merge_entity_data` (gleaning_extractor.rs:
    229-272): key = LOWERCASE NAME, pattern rows are the ``existing`` set
    (they keep their position), each pattern slot is replaced IN PLACE by
    its first LLM name-twin that carries strictly more information — here
    strictly higher confidence, compared as the stored float32, the
    schema-level stand-in for the reference's strictly-longer description
    (LLM entities carry the fixed 0.9 of llm_extractor.rs; pattern
    confidences are the per-rule scores) — and never-seen LLM names append
    afterwards in LLM order. ``rank`` is re-numbered to the merged position
    so downstream ``order_key`` semantics hold. Triples go pattern first,
    then LLM, keeping the first occurrence (:func:`deduplicate_triples`).
    """
    p_ents, p_tris = pattern
    l_ents, l_tris = llm
    twins: dict[str, list] = {}
    for n in l_ents:
        twins.setdefault(n[1].lower(), []).append(n)
    fused = []
    for e in p_ents:
        conf = np.float32(e[3])
        fused.append(next(
            (n for n in twins.get(e[1].lower(), ()) if np.float32(n[3]) > conf),
            e,
        ))
    seen = {e[1].lower() for e in p_ents}
    fused += [n for n in l_ents if n[1].lower() not in seen]
    return (
        [(eid, name, etype, conf, rank, mentions)
         for rank, (eid, name, etype, conf, _, mentions) in enumerate(fused)],
        deduplicate_triples(p_tris + l_tris),
    )


# ---------------------------------------------------------------------------
# The Spark stage
# ---------------------------------------------------------------------------

def extract_chunks_llm(
    chunks: DataFrame,
    client_factory: Callable[[], object],
    config: PipelineConfig | None = None,
    concurrency: int = 8,
    max_rounds: int = 2,
    policy: LLMCallPolicy | None = None,
) -> DataFrame:
    """LLM-backed twin of ``extract_chunks``: same input columns, same
    ``EXTRACTION_SCHEMA`` output, so every downstream stage (mentions/
    entities_raw/canonicalize/materialize) is reused unchanged.

    Concurrency model: each Python worker builds ONE client
    (``client_factory`` runs on the executor — put connection setup
    there, it must be picklable-free) and drives its whole Arrow batch as
    asyncio tasks under a ``concurrency``-wide semaphore. Executor-count ×
    ``concurrency`` bounds cluster-wide in-flight requests, which is the
    knob a shared endpoint needs. Chunks whose calls exhaust retries
    degrade to empty extractions instead of failing the task.

    With ``config.extraction_mode == "hybrid"`` each chunk's round-1
    pattern rows (``extract_chunks``'s) are computed in the same task,
    after the batch's requests return, and fused with its LLM rows by
    :func:`fuse_rows`.
    """
    config = config or PipelineConfig()
    entity_types = tuple(config.all_entity_types)
    policy = policy or LLMCallPolicy()
    hybrid = config.extraction_mode == "hybrid"
    min_confidence = config.min_confidence
    do_rel = config.extract_relationships

    def run_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import asyncio

        import pandas as pd

        client = client_factory()

        async def one(sem, text: str):
            async with sem:
                try:
                    out = await _glean_chunk(
                        client, text or "", entity_types, max_rounds, policy
                    )
                except Exception:  # noqa: BLE001 — isolate per chunk
                    out = {"entities": [], "relationships": []}
                return _to_rows(out, text or "")

        async def drive(texts: list[str]):
            sem = asyncio.Semaphore(concurrency)
            return await asyncio.gather(*[one(sem, t) for t in texts])

        for pdf in batches:
            texts = list(pdf["text"])
            results = asyncio.run(drive(texts))
            if hybrid:
                # CPU-bound rules run once no request is in flight
                results = [
                    fuse_rows(
                        pattern_rows(
                            text or "", [entity_types], 1, min_confidence, do_rel
                        ),
                        llm,
                    )
                    for text, llm in zip(texts, results)
                ]
            yield pd.DataFrame(
                {
                    "chunk_id": pdf["chunk_id"],
                    "conv_id": pdf["conv_id"],
                    "doc_id": pdf["doc_id"],
                    "chunk_idx": pdf["chunk_idx"],
                    "entities": [r[0] for r in results],
                    "triples": [r[1] for r in results],
                }
            )

    return chunks.select(
        "chunk_id", "conv_id", "doc_id", "chunk_idx", "text"
    ).mapInPandas(run_batches, schema=EXTRACTION_SCHEMA)


# ---------------------------------------------------------------------------
# Recorded-response client (test double; keep importable for user stubs)
# ---------------------------------------------------------------------------

@dataclass
class RecordedClient:
    """Deterministic stand-in for a live endpoint: answers by matching the
    prompt's kind (extraction / completion / gleaning) and the chunk text
    it contains. ``fail_first`` injects transient faults to exercise the
    retry path."""

    extraction: dict[str, str] = field(default_factory=dict)
    completion: dict[str, str] = field(default_factory=dict)
    gleaning: dict[str, str] = field(default_factory=dict)
    fail_first: int = 0
    calls: list[str] = field(default_factory=list)

    def _lookup(self, table: dict[str, str], prompt: str) -> str:
        for key, resp in table.items():
            if key in prompt:
                return resp
        return '{"entities": [], "relationships": []}'

    async def acomplete(self, prompt: str) -> str:
        if self.fail_first > 0:
            self.fail_first -= 1
            raise ConnectionError("injected transient fault")
        if prompt.startswith("-Goal-\nYou previously extracted"):
            self.calls.append("gleaning")
            return self._lookup(self.gleaning, prompt)
        if prompt.startswith("Based on the text below"):
            self.calls.append("completion")
            return self._lookup(self.completion, prompt)
        self.calls.append("extraction")
        return self._lookup(self.extraction, prompt)


# ---------------------------------------------------------------------------
# Deterministic offline endpoint stand-in (driver oracle row + smoke use)
# ---------------------------------------------------------------------------

_STUB_RUN_RE = re.compile(r"\b[A-Z][a-z]+(?: [A-Z][a-z]+)+\b")
_STUB_ORG_SUFFIXES = frozenset(
    {"Corp", "Corporation", "Inc", "Systems", "Analytics", "Technologies",
     "Labs", "Industries", "Group", "Ltd"}
)
_STUB_TEXT_RE = re.compile(r"Text: (.*)\n#+\nOutput:", re.DOTALL)


class DeterministicStubClient:
    """Config-free deterministic endpoint stand-in: answers the extraction
    prompt by deriving entities from the prompt's embedded chunk text with
    a FIXED public rule (:meth:`derive`), declares every extraction
    complete, and gleans nothing. Exists so hybrid/semantic-mode pipelines
    can run end-to-end — and be oracle-checked — without a live endpoint:
    the driver's ``hybrid_extraction`` row builds with this client and the
    single-process twin (``oracle_twins.hybrid_extraction``) re-derives the
    same responses and re-fuses them independently, pinning
    :func:`fuse_rows` + the hybrid dispatch
    (setconfig.rs:1780-1794 parity) on real data."""

    @staticmethod
    def derive(text: str) -> dict:
        """Fixed derivation: maximal runs of >= 2 Capitalized words are
        entities (ORGANIZATION when the run ends in a corporate suffix,
        else PERSON; first occurrence wins), and consecutive distinct runs
        relate as MENTIONED_WITH. Deliberately different from the pattern
        extractor so hybrid fusion exercises both the in-place replacement
        (name twins at the fixed LLM confidence 0.9) and the append path
        (multi-word runs the patterns miss)."""
        entities, seen = [], set()
        order = []
        for m in _STUB_RUN_RE.finditer(text or ""):
            name = m.group(0)
            key = name.lower()
            if key in seen:
                continue
            seen.add(key)
            etype = (
                "ORGANIZATION"
                if name.rsplit(" ", 1)[-1] in _STUB_ORG_SUFFIXES
                else "PERSON"
            )
            entities.append(
                {"name": name, "type": etype, "description": f"run:{name}"}
            )
            order.append(name)
        relationships = [
            {"source": a, "target": b, "description": "MENTIONED_WITH",
             "strength": 0.8}
            for a, b in zip(order, order[1:])
        ]
        return {"entities": entities, "relationships": relationships}

    async def acomplete(self, prompt: str) -> str:
        if prompt.startswith("Based on the text below"):
            return "YES"  # always complete — no gleaning rounds
        if prompt.startswith("-Goal-\nYou previously extracted"):
            return '{"entities": [], "relationships": []}'
        m = _STUB_TEXT_RE.search(prompt)
        return json.dumps(self.derive(m.group(1) if m else ""))
