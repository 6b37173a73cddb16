"""End-to-end KG-construction pipeline.

The canonical stage IR chain (SURVEY.md §3):

    transcripts → documents → chunks → extraction → {mentions,
    entities_raw, edges_raw} → clusters → {nodes, edges, node_stats}

One rule (:class:`SharingRule`) decides what is materialized. With a
:class:`~graphrag_rs_spark.plans.checkpoint.CheckpointManager`, every named
stage is written and re-read; in memory, tables read by more than one later
step are cached and counted, and the rest of the DAG stays one lazy plan.
Stages D–F (clusters → {nodes, edges, node_stats}) are one function,
:func:`link_graph`, which the batch build runs after extraction and the
streaming sink after its raw-table merge.
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
    extract_gleaning,
    mentions_table,
)
from graphrag_rs_spark.operators.materialize import (
    edges_table,
    node_stats_table,
    nodes_table,
)
from graphrag_rs_spark.plans.checkpoint import CheckpointManager, content_digest


class SharingRule:
    """The build's one rule for what is materialized.

    With a ``checkpoint_dir``, :meth:`stage` writes and re-reads every named
    stage through a :class:`CheckpointManager`; in memory it runs the stage
    lazily and :meth:`shared` caches and counts the tables that more than
    one later step reads. The rule records what it cached, so a caller that
    publishes the tables and goes on (the streaming sink) can
    :meth:`release` them.
    """

    def __init__(
        self,
        spark: SparkSession,
        config: PipelineConfig,
        checkpoint_dir: str | None = None,
    ) -> None:
        self.config_repr = repr(sorted(asdict(config).items()))
        self.checkpoint = (
            CheckpointManager(spark, checkpoint_dir) if checkpoint_dir else None
        )
        self.cached: list[DataFrame] = []

    def stage(
        self,
        name: str,
        fn,
        upstreams: tuple[str, ...] = (),
        config_repr: str | None = None,
    ) -> DataFrame:
        """Stage ``name``, computed by the zero-arg ``fn``: checkpointed
        under a fingerprint of ``config_repr`` (default: the whole config)
        and the ``upstreams``' fingerprints, or in memory ``fn()``."""
        if self.checkpoint is None:
            return fn()
        return self.checkpoint.stage(
            name, fn, config_repr=config_repr or self.config_repr,
            upstreams=upstreams,
        )

    def shared(self, df: DataFrame) -> DataFrame:
        # read by more than one later step. In memory, cache and count it
        # where a checkpointed build writes it: one job's concurrent
        # broadcast exchanges would each compute a cold cache (measured ~2x
        # the whole build on entities_raw). Never `edges`: see edges_table.
        if self.checkpoint is None:
            df = df.cache()
            df.count()
            self.cached.append(df)
        return df

    def release(self) -> None:
        """Unpersist every table this rule cached."""
        for df in self.cached:
            df.unpersist()
        self.cached.clear()


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
    client on each executor). Stages D–F run in :func:`link_graph`.

    Checkpointed, every stage is written and re-read, and the ``documents``
    fingerprint carries a content digest of ``transcripts``; in memory,
    tables read by more than one later step are cached and counted
    (:class:`SharingRule`).
    """
    config = config or PipelineConfig()
    # the extractor that runs is part of the extraction fingerprint: a
    # semantic build that fell back to the pattern path must not be resumed
    # by one with a client (this also rejects an unknown extraction_mode)
    extractor = _extractor_name(extraction_client_factory(config, client_factory))
    tune_object_agg(spark)
    rule = SharingRule(spark, config, checkpoint_dir)
    stage, shared, cfg_repr = rule.stage, rule.shared, rule.config_repr

    # the input is part of the documents fingerprint: a build over other
    # transcripts must not resume this directory's stages
    documents = stage(
        "documents",
        lambda: assemble_documents(transcripts, separator=config.turn_separator),
        config_repr=(
            f"{cfg_repr} input={content_digest(transcripts)}"
            if rule.checkpoint else None
        ),
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
    # occurrence rows, the one raw-edge shape: stage F aggregates them
    # once, and the streaming workspace appends the same rows
    edges_raw = stage(
        "edges_raw",
        lambda: edges_raw_table(extraction, config.relationship_confidence),
        ("extraction",),
    )
    graph = link_graph(entities_raw, edges_raw, config, rule)

    return {
        "documents": documents,
        "chunks": chunks,
        "extraction": extraction,
        "mentions": mentions,
        "entities_raw": entities_raw,
        "edges_raw": edges_raw,
        **graph,
        "_checkpoint": rule.checkpoint,
    }


def link_graph(
    entities_raw: DataFrame,
    edges_raw: DataFrame,
    config: PipelineConfig,
    rule: SharingRule,
) -> dict[str, DataFrame]:
    """Stages D–F over the raw tables: ``clusters``, ``nodes``, ``edges``,
    ``node_stats`` and, with ``config.semantic_edges``, ``semantic_edges``
    (else None), each staged and shared under ``rule``.

    ``edges_raw`` holds the occurrence rows of ``edges_raw_table``, a
    build's or the streaming workspace's. ``edges`` includes the semantic
    edges; ``node_stats`` counts only the extracted ones.
    """
    stage, shared = rule.stage, rule.shared
    clusters = shared(stage(
        "clusters", lambda: canonicalize_entities(entities_raw, config), ("entities_raw",)
    ))
    nodes = shared(stage(
        "nodes", lambda: nodes_table(clusters, entities_raw), ("clusters", "entities_raw")
    ))
    edges = stage(
        "edges",
        lambda: edges_table(edges_raw, clusters, nodes),
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
        "clusters": clusters,
        "nodes": nodes,
        "edges": edges,
        "node_stats": node_stats,
        "semantic_edges": semantic,
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
    runs the same LLM pass, whose UDF also extracts each chunk's pattern
    rows and fuses them with the gleaning merge rule
    (``llm_extraction.fuse_rows``). The LLM client comes from
    :func:`extraction_client_factory`; without one, every mode runs the
    pattern path.
    """
    client_factory = extraction_client_factory(config, client_factory)
    if client_factory is None:
        return extract_gleaning(chunks, config)
    from graphrag_rs_spark.operators.llm_extraction import extract_chunks_llm

    return extract_chunks_llm(
        chunks,
        client_factory,
        config,
        max_rounds=max(1, config.max_gleaning_rounds),
    )
