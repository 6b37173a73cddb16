"""Pipeline configuration.

Mirrors the knobs of the reference's ``Config`` /
``EntityExtractionConfig`` / ``EntityLinkingConfig`` / ``GleaningConfig``
(graphrag-rs: config/mod.rs:844-910, entity/string_similarity_linker.rs:17-52,
entity/gleaning_extractor.rs:22-57) plus Spark-scale knobs (partitions,
blocking caps) that have no single-process counterpart.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    # --- chunking (reference defaults config/mod.rs:850-855) ---
    chunk_size: int = 1000
    chunk_overlap: int = 200
    min_chunk_size: int = 50  # text/chunking.rs:29
    chunker: str = "hierarchical"  # "hierarchical" | "fixed"

    # --- document assembly (ours; north-rule stage) ---
    turn_separator: str = "\n"

    # --- extraction (entity/mod.rs:97-156; defaults mod.rs:104-116) ---
    # Pipeline approach (setconfig.rs:614-621 [mode].approach; dispatch
    # lib.rs:383): "algorithmic" = pattern extraction; "semantic" =
    # LLM-gleaning extraction (needs a client_factory at build time, else
    # falls back to pattern exactly like the reference's
    # `use_gleaning && ollama.enabled` gate); "hybrid" = both, fused per
    # chunk with the gleaning merge rule (gleaning_extractor.rs:229-272).
    # Default differs from the reference's "semantic" deliberately: the
    # deterministic pattern path is this engine's parity anchor.
    extraction_mode: str = "algorithmic"
    entity_types: tuple[str, ...] = ("PERSON", "ORGANIZATION", "LOCATION")
    min_confidence: float = 0.5
    extract_relationships: bool = True
    relationship_confidence: float = 0.5  # config/mod.rs:887-889
    max_gleaning_rounds: int = 1  # >1 enables multi-pass extraction
    # completeness gate for gleaning rounds > 1: a chunk is "incomplete"
    # while it holds fewer entities than this density target (the
    # deterministic analogue of the reference's per-chunk LLM YES/NO
    # completeness check, gleaning_extractor.rs:154-194 — zero-entities
    # alone re-asks far less often than the reference does)
    gleaning_entity_target: int = 2

    # --- canonicalization (string_similarity_linker.rs:40-52) ---
    link_min_similarity: float = 0.85
    link_max_edit_distance: int = 2
    link_use_phonetic: bool = False
    link_fuzzy_matching: bool = True
    # Spark-scale: blocking-key block-size cap. Blocks larger than this are
    # dropped from candidate generation (logged); the reference compares ALL
    # pairs (O(n²), string_similarity_linker.rs:79-103) which cannot scale.
    # 1024 bounds any one block at C(1024,2) ≈ 524k scored pairs. The cap is
    # what keeps "hot name families" — thousands of distinct people sharing
    # a first token ("Washington …"), which Jaro-Winkler's prefix bonus
    # scores ≥0.85 pairwise — from going quadratic: measured at 10k convs,
    # one 2.5k-member family block under a 4096 cap contributed ~3.9M of
    # 3.97M match edges. True variant pairs inside a capped family still
    # link through their OTHER shared keys (second-token token/soundex/gram
    # blocks), so only the family's cross-identity pairs are shed.
    max_block_size: int = 1024
    # Tighter cap for DERIVED blocking keys (soundex codes, end 4-grams).
    # Their key spaces are small (~7k soundex codes; a few thousand
    # frequent end-grams), so at 10^5+ entities the mass of derived blocks
    # piles up just under ``max_block_size`` and dominates the candidate
    # self-join: measured at 100k convs / 388k entities, blocks of 257-1024
    # members were 145M of 182M join pairs — nearly all junk. True
    # near-duplicate pairs are anchored by their UNMODIFIED tokens, which
    # give ≥4 shared keys in small blocks (the exact token key, its
    # soundex, its two end-grams), so capping derived blocks at 128 sheds
    # the quadratic junk (182M → ~20M join rows) without touching the
    # pairs the linker exists to find. Exact-token keys keep the looser
    # ``max_block_size`` cap — token blocks are almost never hot (388k
    # entities produced 19 token blocks over 256).
    max_derived_block_size: int = 128
    # Rescue window for STRANDED entities in over-cap blocks: an entity
    # with no surviving exact-token block (single-token name whose token
    # block is hot/absent — its typo twin shares only derived keys, all of
    # which may be over-cap) would otherwise lose every route to the
    # scorer. Such entities get sorted-neighborhood pairs (record-linkage
    # SNM: members sorted by normalized name, this many neighbors each
    # side) inside their over-cap blocks, and those pairs bypass the
    # min_shared_blocks gate. Rescue is deliberately NOT applied to
    # anchored members: indiscriminate SNM over hot blocks measured 1.5
    # points WORSE planted-truth recall at 5k convs (extra hot-family
    # pairs reorder the greedy merge). 0 disables rescue (pre-round-3
    # behavior: over-cap blocks shed entirely, stranded or not).
    hot_block_window: int = 8
    # Hard ceiling for rescue-eligible blocks: beyond this the block is
    # dropped outright (as all over-cap blocks were before). Bounds the
    # collect_set aggregation buffer of a single hot key to ~a few MB of
    # strings; a derived block this size is junk-dominated by construction
    # (the hottest derived block at 388k entities was <5k members).
    max_window_block_size: int = 65536
    # candidate pairs must co-occur in at least this many blocking keys.
    # True near-duplicates usually share MANY keys (common tokens, soundex
    # codes, char 4-grams) while the junk majority of blocked pairs shares
    # exactly one — 2 cuts the scored-pair volume ~2.5x for ~0.1%
    # pair-recall loss (standard multi-pass blocking). The default stays 1
    # because the exact-parity contract vs the all-pairs oracle requires
    # full candidate recall; large corpus runs should set 2.
    min_shared_blocks: int = 1
    # Pairs whose smaller side generates at most this many TOTAL blocking
    # keys bypass the min_shared_blocks gate. A single-token name yields
    # ≤4 keys (token, soundex, two end-grams; 3 when the grams coincide),
    # so its true variants structurally share only 1-2 keys — "Corp" and
    # "Corporation" share exactly the g:corp gram; "Henderson" and
    # "Michael Anderson" share only t:anderson's soundex-neighborhood key.
    # Requiring 2 shared keys of such pairs sheds TRUE matches, measured
    # as a 0.944 triple-precision at min_shared_blocks=2 on the parity
    # fixture (split "Corp"/"Corporation" clusters leak non-canonical
    # names into triples). Multi-token names (≥7 keys) still face the
    # full gate — they carry the junk mass the gate exists to shed.
    key_poor_max_keys: int = 4

    # --- embeddings stage (vector/mod.rs:559-685 hash embeddings;
    # retrieval/mod.rs:425-458: chunks embed content, entities embed
    # "{name} {type}") ---
    embed_chunks: bool = False
    embedding_dim: int = 64

    # --- semantic-similarity edges (graph/mod.rs:235-292; defaults
    # config/mod.rs:844-849: threshold 0.8, max_connections 10) ---
    semantic_edges: bool = False
    semantic_edge_threshold: float = 0.8
    semantic_edge_max_connections: int = 10
    semantic_edge_method: str = "lsh"  # "exact" for small graphs

    # --- spark-scale knobs ---
    shuffle_partitions: int = 32
    # extraction is the pipeline's most CPU-dense stage (~0.7 ms/KB — a
    # 64 MB shuffle partition is ~45 s of single-core work), so sizing its
    # tasks by shuffle BYTES (what shuffle.partitions/AQE give) leaves it
    # running a handful of coarse tasks whose stragglers cap core scaling.
    # Before extraction, chunks are round-robin repartitioned to
    # defaultParallelism × this factor so every core gets many small,
    # evenly-sized tasks (mega-conversation skew is spread too). 0 disables.
    extraction_partitions_per_core: int = 4

    # --- LLM endpoint (ollama/mod.rs:32-46 defaults; used when
    # extraction_mode is semantic/hybrid and no client_factory is passed
    # to build_graph — the config-file-only route to the live path) ---
    ollama_enabled: bool = False
    ollama_base_url: str = "http://localhost:11434"
    ollama_model: str = "llama3.2:3b"
    ollama_timeout_seconds: float = 30.0
    ollama_max_retries: int = 3

    # extra entity types routed to the generic extractor
    extra_entity_types: tuple[str, ...] = field(default=())

    @property
    def all_entity_types(self) -> tuple[str, ...]:
        return tuple(self.entity_types) + tuple(self.extra_entity_types)
