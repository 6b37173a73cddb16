"""End-to-end KG-construction pipeline.

The canonical stage IR chain (SURVEY.md §3):

    transcripts → documents → chunks → extraction → {mentions,
    entities_raw, edges_raw} → clusters → {nodes, edges, node_stats}

One rule decides what is materialized. With a
:class:`~graphrag_rs_spark.plans.checkpoint.CheckpointManager`, every named
stage is written and re-read; in memory, tables read by more than one later
step are cached and counted, and the rest of the DAG stays one lazy plan.
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
from graphrag_rs_spark.operators.materialize import (
    edges_table,
    node_stats_table,
    nodes_table,
)
from graphrag_rs_spark.plans.checkpoint import CheckpointManager


def build_graph(
    spark: SparkSession,
    transcripts: DataFrame,
    config: PipelineConfig | None = None,
    checkpoint_dir: str | None = None,
    client_factory=None,
) -> dict[str, DataFrame]:
    """Run the full build; returns every stage table by name.

    ``config.extraction_mode`` selects the extraction stage, see
    :func:`extract_configured` (``client_factory`` builds the LLM endpoint
    client on each executor).

    Checkpointed, every stage is written and re-read; in memory, tables
    read by more than one later step are cached and counted (``shared``).
    """
    config = config or PipelineConfig()
    # the extractor that runs is part of the extraction fingerprint: a
    # semantic build that fell back to the pattern path must not be resumed
    # by one with a client (this also rejects an unknown extraction_mode)
    extractor = _extractor_name(extraction_client_factory(config, client_factory))
    tune_object_agg(spark)
    cfg_repr = repr(sorted(asdict(config).items()))
    ckpt = CheckpointManager(spark, checkpoint_dir) if checkpoint_dir else None

    def stage(
        name: str, fn, upstreams: tuple[str, ...] = (), config_repr: str = cfg_repr
    ) -> DataFrame:
        if ckpt is None:
            return fn()
        return ckpt.stage(name, fn, config_repr=config_repr, upstreams=upstreams)

    def shared(df: DataFrame) -> DataFrame:
        # read by more than one later step. In memory, cache and count it
        # where a checkpointed build writes it: one job's concurrent
        # broadcast exchanges would each compute a cold cache (measured ~2x
        # the whole build on entities_raw). Never `edges`: see edges_table.
        if ckpt is None:
            df = df.cache()
            df.count()
        return df

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

    extraction = shared(stage(
        "extraction",
        lambda: extract_configured(chunks, config, client_factory),
        ("chunks",),
        f"{cfg_repr} extractor={extractor}",
    ))
    mentions = mentions_table(extraction)
    entities_raw = shared(stage(
        "entities_raw", lambda: entities_raw_table(extraction), ("extraction",)
    ))
    # occurrence rows: stage F aggregates them once; the pre-combined
    # edges_partial_table pays an extra exchange and serves only the
    # streaming workspace, where state size matters
    edges_raw = stage(
        "edges_raw",
        lambda: edges_raw_table(extraction, config.relationship_confidence),
        ("extraction",),
    )
    clusters = shared(stage(
        "clusters", lambda: canonicalize_entities(entities_raw, config), ("entities_raw",)
    ))
    nodes = shared(stage(
        "nodes", lambda: nodes_table(clusters, entities_raw), ("clusters", "entities_raw")
    ))
    edges = stage(
        "edges",
        lambda: edges_table(edges_raw, clusters, nodes, config),
        ("edges_raw", "clusters", "nodes"),
    )
    node_stats = stage(
        "node_stats",
        lambda: node_stats_table(nodes, shared(edges.select("subj", "pred", "obj"))),
        ("edges", "nodes"),
    )

    semantic = None
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


def extraction_client_factory(config: PipelineConfig, client_factory=None):
    """The LLM client factory the extraction stage runs with, or None when
    it runs the pattern extractor.

    semantic/hybrid use ``client_factory``; with none given and
    ``config.ollama_enabled`` they build an ``OllamaHttpClient`` from
    config (the reference's ``use_gleaning && ollama.enabled`` gate builds
    an OllamaClient the same way, lib.rs:383-399); otherwise they FALL BACK
    to the pattern path, as the reference silently degrades to pattern
    extraction when no endpoint is configured.
    """
    if config.extraction_mode not in ("algorithmic", "semantic", "hybrid"):
        raise ValueError(
            f"unknown extraction_mode {config.extraction_mode!r}: "
            "'algorithmic' | 'semantic' | 'hybrid'"
        )
    if config.extraction_mode == "algorithmic":
        return None
    if client_factory is not None or not config.ollama_enabled:
        return client_factory
    from graphrag_rs_spark.operators.llm_client import OllamaHttpClient

    base_url, model = config.ollama_base_url, config.ollama_model
    timeout, retries = config.ollama_timeout_seconds, config.ollama_max_retries

    def ollama_client():
        return OllamaHttpClient(
            base_url=base_url, model=model,
            timeout_seconds=timeout, max_retries=retries,
        )

    return ollama_client


def _extractor_name(client_factory) -> str:
    # a factory by its import path; any other callable by repr, which at
    # worst recomputes the stage
    if client_factory is None:
        return "pattern"
    module = getattr(client_factory, "__module__", None)
    name = getattr(client_factory, "__qualname__", None)
    return f"{module}.{name}" if module and name else repr(client_factory)


def extract_configured(
    chunks: DataFrame, config: PipelineConfig, client_factory=None
) -> DataFrame:
    """The extraction stage ``config.extraction_mode`` selects, the way the
    reference's ``config.approach`` does (lib.rs:383, setconfig.rs:
    1750-1794), for the batch build and the streaming sink alike:
    ``algorithmic`` runs the deterministic pattern gleaning extractor;
    ``semantic`` runs the batched-async LLM gleaning extractor; ``hybrid``
    runs both and fuses per chunk with the gleaning merge rule. The LLM
    client comes from :func:`extraction_client_factory`.
    """
    client_factory = extraction_client_factory(config, client_factory)
    if client_factory is None:
        return extract_gleaning(chunks, config)
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
