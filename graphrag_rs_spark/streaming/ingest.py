"""Structured Streaming incremental ingest.

The reference has NO stream engine — its "incremental" surface is
micro-batch upsert with rollback (graphrag-rs graph/incremental.rs:92-341,
SURVEY.md §2 streaming note). The honest Spark mapping is ``readStream``
over a transcript directory driving the batch operators per micro-batch
via ``foreachBatch``. ``Trigger.AvailableNow`` gives the
ingest-what-exists-then-stop behavior of the reference's
StreamingImporter (pipeline/data_import.rs:604-612).

**Exact incremental = rebuild.** Each batch runs only the EXPENSIVE narrow
stages (assembly → chunking → extraction, with the build's extractor
and gleaning rounds, ``plans.pipeline.extract_configured``) on the new
conversations, then merges the extraction-level tables into the
workspace, one rule per table: ``edges_raw`` appends the batch's
occurrence rows (``edges_raw_table``, the build's own raw-edge shape),
and ``entities_raw`` is upserted by
``sources.iceberg_contract.ENTITIES_RAW_MERGE`` (max confidence, sum
mentions, min first-appearance order key, alias union), the same spec
the cluster renders as ``MERGE INTO``. Stages D–F over the merged raw
tables are ``build_graph``'s own, ``plans.pipeline.link_graph``:
canonicalization, nodes, edges, node stats and, when configured, the
semantic-similarity edges. Because the entity upsert is associative,
the appended edges are exactly the union's occurrence rows, the greedy
replay orders by the global first-appearance key and the linking code
is the build's, the workspace after N batches is IDENTICAL to a single
batch build over the unioned transcripts — verified by
tests/test_streaming_ingest.py. This mirrors the reference's incremental
claim ("10× faster than rebuild") honestly: extraction is incremental;
linking re-runs on the (much smaller) entity roll-up.

At cluster scale the sink tables are Iceberg (``MERGE INTO`` for the
entities, ``INSERT INTO`` for the edges, + snapshot commit); here the
state store is a parquet workspace swapped atomically per batch (same
call sites, SURVEY.md §4.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from graphrag_rs_spark.config import PipelineConfig

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)


def read_transcript_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of transcript parquet drops (pass a glob like
    ``dir/*`` when drops arrive as subdirectories)."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


class IncrementalGraphSink:
    """foreachBatch sink: extraction on the delta only; ``build_graph``'s
    stages D–F (``plans.pipeline.link_graph``) re-run over the merged raw
    tables, under the build's in-memory sharing rule, whose cached tables
    are released once the batch is published.

    **Exactly-once under at-least-once delivery.** foreachBatch replays a
    batch if the stream crashes between the sink's writes and the streaming
    checkpoint commit. Two mechanisms make the replay harmless:

    * all five tables of a batch are written into ONE versioned directory
      (``_v{batch_id}``) and published by atomically replacing the
      ``CURRENT`` pointer file (``os.replace``) — a crash mid-write leaves
      the previous version fully intact and internally consistent (no
      partially-swapped raw/derived mix);
    * ``process_batch`` consults ``CURRENT`` first and SKIPS any batch id
      it has already published, so a replayed batch cannot double-merge
      mention counts or append its edge occurrences twice.

    This is the parquet-workspace analogue of an Iceberg snapshot commit
    (single atomic metadata pointer flip); at cluster scale the same call
    sites become ``MERGE INTO`` / ``INSERT INTO`` + snapshot commit.

    For convenience (and test/backward compatibility) the published tables
    are also exposed at stable top-level paths via symlinks to the current
    version directory, refreshed after each pointer flip.
    """

    TABLES = ("entities", "relationships", "node_stats", "entities_raw",
              "edges_raw")

    def __init__(
        self,
        workspace_dir: str,
        config: PipelineConfig | None = None,
    ) -> None:
        # absolutize: Spark resolves a RELATIVE parquet write path
        # against the JVM's working directory, while the Python-side
        # mkdir/symlink/CURRENT bookkeeping would resolve it against the
        # (possibly different, possibly changing) Python cwd — the two
        # halves of the workspace would land in different places
        self.workspace_dir = os.path.abspath(workspace_dir)
        self.config = config or PipelineConfig()
        os.makedirs(self.workspace_dir, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.workspace_dir, name)

    def _current_batch_id(self) -> int | None:
        try:
            with open(self._path("CURRENT")) as fh:
                return int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def _version_dir(self, batch_id: int) -> str:
        return self._path(f"_v{batch_id}")

    def _read_existing(self, spark: SparkSession, name: str) -> DataFrame | None:
        bid = self._current_batch_id()
        if bid is None:
            return None
        path = os.path.join(self._version_dir(bid), name)
        if not os.path.exists(path):
            return None
        return spark.read.parquet(path)

    def _publish(self, batch_id: int, tables: dict[str, DataFrame]) -> None:
        """Write every table of the batch into one version directory, then
        flip CURRENT atomically and refresh the stable symlinks."""
        import shutil

        vdir = self._version_dir(batch_id)
        if os.path.exists(vdir):
            shutil.rmtree(vdir)  # leftover from a crashed attempt
        for name, df in tables.items():
            df.write.mode("overwrite").parquet(os.path.join(vdir, name))

        prev_bid = self._current_batch_id()
        tmp_ptr = self._path("_CURRENT_tmp")
        with open(tmp_ptr, "w") as fh:
            fh.write(str(batch_id))
        os.replace(tmp_ptr, self._path("CURRENT"))  # the atomic commit

        for name in tables:
            link = self._path(name)
            tmp_link = self._path(f"_lnk_{name}")
            if os.path.lexists(tmp_link):
                os.remove(tmp_link)
            # target is RELATIVE to the link's own directory: a target
            # joined from a relative workspace_dir would resolve to
            # workspace/workspace/_vN/... (dangling); relative targets
            # also survive moving the workspace
            os.symlink(os.path.join(f"_v{batch_id}", name), tmp_link)
            os.replace(tmp_link, link)

        if prev_bid is not None and prev_bid != batch_id:
            shutil.rmtree(self._version_dir(prev_bid), ignore_errors=True)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from graphrag_rs_spark.plans.pipeline import SharingRule

        applied = self._current_batch_id()
        if applied is not None and batch_id == applied:
            return  # at-least-once replay of an already-published batch
        if applied is not None and batch_id < applied:
            # Under ONE checkpoint lineage, Structured Streaming only
            # re-delivers the last possibly-uncommitted batch (== applied).
            # A SMALLER id means the stream's checkpoint was deleted or
            # repointed while the workspace kept its state — silently
            # skipping would drop genuinely new data that now rides in
            # low-numbered batches, and applying would double-merge the
            # non-idempotent roll-ups (mention_count sums). Refuse loudly.
            raise RuntimeError(
                f"batch {batch_id} is behind the workspace's published "
                f"batch {applied}: the streaming checkpoint restarted "
                "numbering against an existing workspace. Either restore "
                "the original checkpoint_dir, or start a fresh workspace "
                "dir for the new checkpoint lineage."
            )
        if batch_df.isEmpty():
            return
        # the build's in-memory sharing rule, for extraction and D–F alike
        rule = SharingRule(batch_df.sparkSession, self.config)
        try:
            self._publish(batch_id, self._merged_tables(batch_df, rule))
        finally:
            # cached plans must not accumulate across micro-batches in a
            # long-running stream, a failed batch's included
            rule.release()

    def _merged_tables(self, batch_df: DataFrame, rule) -> dict[str, DataFrame]:
        """The workspace tables with ``batch_df`` merged in."""
        from graphrag_rs_spark.operators.assembly import assemble_documents
        from graphrag_rs_spark.operators.chunking import chunk_documents
        from graphrag_rs_spark.operators.extraction import (
            edges_raw_table,
            entities_raw_table,
        )
        from graphrag_rs_spark.plans.pipeline import extract_configured, link_graph
        from graphrag_rs_spark.sources.iceberg_contract import ENTITIES_RAW_MERGE

        spark = batch_df.sparkSession
        # delta-only narrow stages (the expensive part)
        documents = assemble_documents(
            batch_df, separator=self.config.turn_separator
        )
        chunks = chunk_documents(documents, self.config)
        extraction = rule.shared(extract_configured(chunks, self.config))
        entities_raw = entities_raw_table(extraction)
        edges_raw = edges_raw_table(extraction, self.config.relationship_confidence)

        old_entities = self._read_existing(spark, "entities_raw")
        if old_entities is not None:
            entities_raw = ENTITIES_RAW_MERGE.apply(old_entities, entities_raw)
        old_edges_raw = self._read_existing(spark, "edges_raw")
        if old_edges_raw is not None:
            edges_raw = old_edges_raw.unionByName(edges_raw)
        # canonicalization and nodes_table both read the merged entities:
        # materialize them once. The edges stay lazy: every read of the
        # current version's edge files runs before _publish deletes it
        entities_raw = entities_raw.localCheckpoint(eager=True)

        # global re-link + materialize over the merged roll-ups: the
        # build's own stages D–F
        graph = link_graph(entities_raw, edges_raw, self.config, rule)
        return {
            "entities": graph["nodes"],
            "relationships": graph["edges"],
            "node_stats": graph["node_stats"],
            "entities_raw": entities_raw,
            "edges_raw": edges_raw,
        }


def run_incremental_ingest(
    spark: SparkSession,
    input_dir: str,
    workspace_dir: str,
    checkpoint_dir: str,
    config: PipelineConfig | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the stream and return its query; with ``available_now``,
    block until every pending file is ingested — the batch-catchup
    trigger — else the caller awaits or stops the running query."""
    sink = IncrementalGraphSink(workspace_dir, config)
    stream = read_transcript_stream(spark, input_dir)
    writer = (
        stream.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if not available_now:
        return writer.start()
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q
