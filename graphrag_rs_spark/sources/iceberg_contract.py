"""The Iceberg call contract of the streaming workspace.

This sandbox has no Iceberg runtime jar, so the streaming workspace
(streaming/ingest.py) emulates snapshot semantics with versioned dirs +
an atomic pointer flip. On a real cluster those call sites become table
writes + snapshot commit. Each workspace table has exactly one merge
rule, defined here:

* ``entities_raw`` is upserted by :data:`ENTITIES_RAW_MERGE`. The one
  :class:`MergeSpec` **generates the exact Iceberg SQL** the cluster path
  runs (``merge_sql``), kept syntactically honest by parsing it through
  Spark's own SQL parser in the contract test, and **executes the same
  WHEN MATCHED / WHEN NOT MATCHED semantics** as DataFrame ops
  (``apply``), which is what the sink runs. There is no second
  implementation to drift from.
* ``edges_raw`` holds one row per triple occurrence, the batch build's
  own shape, so it is append-only: ``INSERT INTO`` on the cluster,
  ``unionByName`` in the sink.

:func:`workspace_ddl` declares both tables with the schemas the sink
publishes.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class MergeSpec:
    """One upsert's contract: target table, join keys, and per-column SQL
    update expressions over aliases ``t`` (target) / ``s`` (source)."""

    target: str
    keys: tuple[str, ...]
    update_exprs: dict[str, str]  # non-key col -> SQL over t.*, s.*

    def merge_sql(self, source: str = "batch_source") -> str:
        on = " AND ".join(f"t.{k} = s.{k}" for k in self.keys)
        sets = ",\n  ".join(
            f"{c} = {expr}" for c, expr in self.update_exprs.items()
        )
        return (
            f"MERGE INTO {self.target} t\n"
            f"USING {source} s\n"
            f"ON {on}\n"
            f"WHEN MATCHED THEN UPDATE SET\n  {sets}\n"
            f"WHEN NOT MATCHED THEN INSERT *"
        )

    def apply(self, target: DataFrame, source: DataFrame) -> DataFrame:
        """The MERGE's dataflow as DataFrame ops: full-outer join on the
        keys; matched rows evaluate the update expressions, target-only
        rows pass through, source-only rows insert as-is.

        Plain ``=`` on the keys (NOT eqNullSafe), exactly like the
        generated ``ON t.k = s.k``: a NULL key never matches, so a
        NULL-key target row passes through unchanged and a NULL-key
        source row inserts as a new row — Iceberg MERGE semantics. Side
        presence is detected with marker literals, not key nullness,
        so those NULL-key rows keep their own values.
        """
        t = target.withColumn("_t_hit", F.lit(True)).alias("t")
        s = source.withColumn("_s_hit", F.lit(True)).alias("s")
        cond = reduce(
            lambda a, b: a & b,
            [F.col(f"t.{k}") == F.col(f"s.{k}") for k in self.keys],
        )
        j = t.join(s, cond, "full_outer")
        t_hit = F.col("t._t_hit").isNotNull()
        s_hit = F.col("s._s_hit").isNotNull()
        cols = [
            F.coalesce(F.col(f"t.{k}"), F.col(f"s.{k}")).alias(k)
            for k in self.keys
        ]
        for c in target.columns:
            if c in self.keys:
                continue
            cols.append(
                F.when(t_hit & s_hit, F.expr(self.update_exprs[c]))
                .when(t_hit, F.col(f"t.{c}"))
                .otherwise(F.col(f"s.{c}"))
                .alias(c)
            )
        return j.select(*cols)


# The workspace's entity upsert: the sink runs ``apply``, a cluster
# deployment ``merge_sql``. The source is a per-batch roll-up (one row per
# key by construction), so single-statement MERGE is legal.
ENTITIES_RAW_MERGE = MergeSpec(
    target="ws.entities_raw",
    keys=("entity_id",),
    update_exprs={
        # max_by(name, struct(confidence, name)) over {t, s}
        "name": (
            "CASE WHEN struct(s.confidence, s.name) >"
            " struct(t.confidence, t.name) THEN s.name ELSE t.name END"
        ),
        # the id encodes the type (rules/extraction.py::entity_id_for)
        "entity_type": "t.entity_type",
        "confidence": "greatest(t.confidence, s.confidence)",
        "mention_count": "t.mention_count + s.mention_count",
        "aliases": (
            "array_sort(array_distinct(concat(t.aliases, s.aliases)))"
        ),
        "order_key": "least(t.order_key, s.order_key)",
    },
)


def workspace_ddl(catalog: str = "ws") -> dict[str, str]:
    """CREATE TABLE statements for the graph workspace, partitioned the
    way the batch pipeline shuffles (nodes/edges by bucketed canonical id
    so incremental MERGEs co-locate with the batch layout)."""
    return {
        "entities_raw": (
            f"CREATE TABLE IF NOT EXISTS {catalog}.entities_raw (\n"
            "  entity_id string, name string, entity_type string,\n"
            "  confidence float, mention_count bigint, aliases array<string>,\n"
            "  order_key struct<conv_id: string, chunk_idx: int, rank: int>\n"
            ") USING iceberg PARTITIONED BY (bucket(64, entity_id))"
        ),
        "edges_raw": (
            f"CREATE TABLE IF NOT EXISTS {catalog}.edges_raw (\n"
            "  subj string, obj string, pred string,\n"
            "  confidence float, context_chunk string\n"
            ") USING iceberg PARTITIONED BY (bucket(64, subj))"
        ),
    }


def snapshot_rollback_call(table: str, snapshot_id: int,
                           catalog: str = "ws") -> str:
    """The exactly-once replay guard's cluster form: the workspace's
    atomic CURRENT-pointer flip corresponds to an Iceberg snapshot commit,
    and recovery to a published version is a rollback procedure call."""
    return (
        f"CALL {catalog}.system.rollback_to_snapshot"
        f"('{table}', {snapshot_id})"
    )


def sql_parses(spark: SparkSession, sql: str) -> bool:
    """Syntactic validation through Spark's OWN parser (no Iceberg jar
    needed to parse MERGE/CALL — analysis, not parsing, needs the
    catalog), so the pinned statements cannot rot into pseudo-SQL."""
    try:
        spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)  # noqa: SLF001
        return True
    except Exception:  # noqa: BLE001
        return False
