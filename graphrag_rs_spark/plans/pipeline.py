"""End-to-end KG-construction pipeline.

The canonical stage IR chain (SURVEY.md §3):

    transcripts → documents → chunks → extraction → {mentions,
    entities_raw, edges_raw} → clusters → {nodes, edges, node_stats}

Each named stage optionally checkpoints through a
:class:`~graphrag_rs_spark.plans.checkpoint.CheckpointManager`; without one
the DAG is a single lazy Catalyst plan (extraction is cached since three
tables branch from it).
"""

from __future__ import annotations

from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession

from graphrag_rs_spark.config import PipelineConfig
from graphrag_rs_spark.functions import tune_object_agg
from graphrag_rs_spark.operators.assembly import assemble_documents
from graphrag_rs_spark.operators.canonicalize import canonicalize_entities
from graphrag_rs_spark.operators.chunking import chunk_documents
from graphrag_rs_spark.operators.extraction import (
    edges_raw_table,
    entities_raw_table,
    extract_chunks,
    extract_gleaning,
    mentions_table,
)
from graphrag_rs_spark.operators.materialize import materialize_graph
from graphrag_rs_spark.plans.checkpoint import CheckpointManager


def build_graph(
    spark: SparkSession,
    transcripts: DataFrame,
    config: PipelineConfig | None = None,
    checkpoint_dir: str | None = None,
    client_factory=None,
) -> dict[str, DataFrame]:
    """Run the full build; returns every stage table by name.

    ``config.extraction_mode`` selects the extraction stage the way the
    reference's ``config.approach`` does (lib.rs:383, setconfig.rs:
    1750-1794): ``algorithmic`` runs the deterministic pattern extractor;
    ``semantic`` runs the batched-async LLM gleaning extractor
    (``client_factory`` builds the endpoint client on each executor);
    ``hybrid`` runs both and fuses per chunk with the gleaning merge rule.
    With no ``client_factory``, semantic/hybrid FALL BACK to the pattern
    path — the same gate as the reference's ``use_gleaning &&
    ollama.enabled`` branch, which silently degrades to pattern extraction
    when no endpoint is configured.
    """
    config = config or PipelineConfig()
    if config.extraction_mode not in ("algorithmic", "semantic", "hybrid"):
        raise ValueError(
            f"unknown extraction_mode {config.extraction_mode!r}: "
            "'algorithmic' | 'semantic' | 'hybrid'"
        )
    tune_object_agg(spark)
    cfg_repr = repr(sorted(asdict(config).items()))
    ckpt = CheckpointManager(spark, checkpoint_dir) if checkpoint_dir else None

    def stage(name: str, fn, upstreams: tuple[str, ...] = ()) -> DataFrame:
        if ckpt is None:
            return fn()
        return ckpt.stage(name, fn, config_repr=cfg_repr, upstreams=upstreams)

    documents = stage(
        "documents",
        lambda: assemble_documents(transcripts, separator=config.turn_separator),
    )
    chunks = stage("chunks", lambda: chunk_documents(documents, config), ("documents",))

    if config.embed_chunks:
        # stage 2 of the reference's 7-stage pipeline: hash embeddings over
        # chunk content (retrieval/mod.rs:446-450)
        from graphrag_rs_spark.functions.embeddings import add_embeddings

        chunks = stage(
            "chunk_embeddings",
            lambda: add_embeddings(chunks, text_col="text", dim=config.embedding_dim),
            ("chunks",),
        )

    if config.extraction_partitions_per_core:
        # balance the CPU-dense extraction stage: chunks arrive either on
        # the assembly exchange's byte-sized partitions or (checkpointed)
        # on a parquet scan's file-count partitions — both far coarser
        # than ideal for ~0.7 ms/KB pandas-UDF work (see config docstring)
        n_extract = (
            spark.sparkContext.defaultParallelism
            * config.extraction_partitions_per_core
        )
        chunks = chunks.repartition(n_extract)

    if (
        client_factory is None
        and config.extraction_mode in ("semantic", "hybrid")
        and config.ollama_enabled
    ):
        # config-file-only route to the live path (the reference's
        # `use_gleaning && ollama.enabled` gate builds an OllamaClient
        # from config the same way, lib.rs:383-399)
        from graphrag_rs_spark.operators.llm_client import OllamaHttpClient

        base_url, model = config.ollama_base_url, config.ollama_model
        timeout, retries = (
            config.ollama_timeout_seconds, config.ollama_max_retries,
        )

        def client_factory():  # noqa: F811 — deliberate rebind
            return OllamaHttpClient(
                base_url=base_url, model=model,
                timeout_seconds=timeout, max_retries=retries,
            )

    llm_mode = (
        config.extraction_mode in ("semantic", "hybrid")
        and client_factory is not None
    )

    def _extract_pattern():
        if config.max_gleaning_rounds > 1:
            return extract_gleaning(chunks, config)
        return extract_chunks(chunks, config)

    def _extract():
        if not llm_mode:
            return _extract_pattern()
        from graphrag_rs_spark.operators.llm_extraction import (
            extract_chunks_llm,
            merge_extractions,
        )

        llm = extract_chunks_llm(
            chunks,
            client_factory,
            config,
            max_rounds=max(1, config.max_gleaning_rounds),
        )
        if config.extraction_mode == "semantic":
            return llm
        # hybrid: pattern is the `existing` side of the gleaning merge
        return merge_extractions(extract_chunks(chunks, config), llm)

    extraction = stage("extraction", _extract, ("chunks",))
    if ckpt is None:
        extraction = extraction.cache()  # three tables branch from it

    mentions = mentions_table(extraction)
    entities_raw = stage(
        "entities_raw", lambda: entities_raw_table(extraction), ("extraction",)
    )
    if ckpt is None:
        # both canonicalization and the node roll-up consume entities_raw;
        # without a checkpoint, cache it (one row per distinct entity —
        # small) so the mention roll-up over the exploded extraction runs
        # once, not twice. POPULATE it eagerly: canonicalization's first
        # job scans this table from three stages (blocking keys + both
        # scorer meta joins); against a cold cache those stages race to
        # compute the same partitions and re-run extraction concurrently —
        # measured ~2× the whole build. One count() here pays the
        # extraction pass exactly once, warm for every later scan.
        entities_raw = entities_raw.cache()
        entities_raw.count()
    edges_raw = stage(
        "edges_raw",
        lambda: edges_raw_table(extraction, config.relationship_confidence),
        ("extraction",),
    )
    clusters = stage(
        "clusters", lambda: canonicalize_entities(entities_raw, config), ("entities_raw",)
    )
    if ckpt is None:
        # clusters feeds nodes, edges AND node_stats — without a checkpoint,
        # cache it so the greedy-replay UDF chain runs once, not three times
        clusters = clusters.cache()

    def _materialize():
        # without a checkpoint, cache edges inside: they feed degrees,
        # communities AND the final output
        # NOTE: the occurrence-level JVM path measured FASTER than the
        # Python-side combiner (edges_partial_table) here — codegen
        # hash-agg over 40M narrow rows beats per-row Python dict ops;
        # the combiner still wins where state SIZE matters (streaming
        # workspace keeps 269k partial rows instead of 40M occurrences)
        return materialize_graph(
            edges_raw, clusters, entities_raw, config,
            cache_intermediate=(ckpt is None),
        )

    semantic = None
    if ckpt is None:
        nodes, edges, node_stats = _materialize()
    else:
        # materialize returns three tables; checkpoint each
        nodes_, edges_, stats_ = _materialize()
        nodes = ckpt.stage(
            "nodes", lambda: nodes_, config_repr=cfg_repr,
            upstreams=("clusters", "entities_raw"),
        )
        edges = ckpt.stage(
            "edges", lambda: edges_, config_repr=cfg_repr,
            upstreams=("edges_raw", "clusters"),
        )
        node_stats = ckpt.stage(
            "node_stats", lambda: stats_, config_repr=cfg_repr,
            upstreams=("edges", "nodes"),
        )

    if config.semantic_edges:
        # optional stage: SEMANTICALLY_SIMILAR edges between canonical
        # entities (graph/mod.rs:235-292); entity embedding text is
        # "{name} {type}" (retrieval/mod.rs:453-457)
        from graphrag_rs_spark.functions.embeddings import add_embeddings
        from graphrag_rs_spark.operators.retrieval import (
            semantic_similarity_edges,
        )
        from pyspark.sql import functions as F

        def _semantic():
            embedded = add_embeddings(
                nodes.withColumn(
                    "_etext", F.concat_ws(" ", "name", "entity_type")
                ),
                text_col="_etext",
                dim=config.embedding_dim,
            )
            sem = semantic_similarity_edges(
                embedded.select(
                    "cluster_id",
                    F.col("embedding").cast("array<double>").alias("embedding"),
                ),
                id_col="cluster_id",
                threshold=config.semantic_edge_threshold,
                max_connections=config.semantic_edge_max_connections,
                method=config.semantic_edge_method,
            )
            return sem.select(
                F.col("src").alias("subj"),
                "pred",
                F.col("dst").alias("obj"),
                F.col("similarity").alias("confidence"),
                F.array().cast("array<string>").alias("context"),
            )

        semantic = stage("semantic_edges", _semantic, ("nodes",))
        edges = edges.unionByName(semantic)

    return {
        "documents": documents,
        "chunks": chunks,
        "extraction": extraction,
        "mentions": mentions,
        "entities_raw": entities_raw,
        "edges_raw": edges_raw,
        "clusters": clusters,
        "nodes": nodes,
        "edges": edges,
        "node_stats": node_stats,
        "semantic_edges": semantic,
        "_checkpoint": ckpt,
    }
