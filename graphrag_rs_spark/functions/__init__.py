"""JVM-side column helpers (built-in ``pyspark.sql.functions`` only).

Everything here stays inside Catalyst/whole-stage-codegen — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_OBJ_AGG_FALLBACK = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
_OBJ_AGG_THRESHOLD = 2_000_000


def tune_object_agg(spark: SparkSession) -> None:
    """Keep ``collect_set``/``collect_list`` aggregations hash-based.

    Spark's ObjectHashAggregateExec falls back to SORT-BASED aggregation
    once a task's hash map holds more than
    ``spark.sql.objectHashAggregate.sortBased.fallbackThreshold`` keys —
    and the default is only **128**. Every build-side group-aggregate with
    an array buffer (edge dedupe over tens of millions of occurrence rows,
    document assembly's ``collect_list`` of turns, node alias roll-ups)
    has far more groups than that, so by default each map task
    external-sorts its entire input before combining: a memory-bandwidth-
    bound stage that neither speeds up with cores on one box nor with
    executors on a cluster (the sort happens before the exchange either
    way). 2M keys bounds the partial-agg hash map at a few hundred MB per
    task — far above any real per-task group count here, far below
    executor memory — while the guard leaves any explicit user setting
    untouched. Runtime-settable SQL conf, safe to flip per session.

    **This change is SESSION-WIDE and intentionally persists** past the
    pipeline call that triggered it: the pipeline returns *lazy*
    DataFrames, so the heavy collect_list/collect_set aggregations run
    whenever the caller takes an action — the conf must still be set
    then. The trade-off is count-based: the fallback counts KEYS, not
    bytes, and ObjectHashAggregate buffers are not tracked by the task
    memory manager, so a session whose OTHER jobs aggregate huge array
    buffers per group now risks spill-less memory pressure instead of
    degrading to sort. Callers who share a session with such jobs should
    call ``restore_object_agg(spark)`` after materializing the pipeline
    outputs; that is the one way back.
    """
    try:
        prior = spark.conf.get(_OBJ_AGG_FALLBACK)
        if prior == "128":
            _PRIOR_OBJ_AGG.setdefault(id(spark), prior)
            spark.conf.set(_OBJ_AGG_FALLBACK, str(_OBJ_AGG_THRESHOLD))
    except Exception:  # pragma: no cover - conf missing on exotic builds
        pass


_PRIOR_OBJ_AGG: dict[int, str] = {}


def restore_object_agg(spark: SparkSession) -> None:
    """Undo :func:`tune_object_agg` for this session (no-op if it never
    changed anything). Call after the pipeline's returned DataFrames have
    been fully materialized, when the session goes on to run unrelated
    aggregation-heavy jobs."""
    prior = _PRIOR_OBJ_AGG.pop(id(spark), None)
    if prior is not None:
        try:
            spark.conf.set(_OBJ_AGG_FALLBACK, prior)
        except Exception:  # pragma: no cover
            pass


def ws_tokens(col: Column) -> Column:
    """``str::split_whitespace`` twin: split on whitespace runs and drop
    the empty tokens a leading/trailing run leaves behind (split(trim())
    yields [""] for blank input — NOT []). The single shared definition;
    operators alias it rather than re-deriving the expression, so a
    tokenization fix lands everywhere at once."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != "")


def euclidean_distance_col(v1: Column, v2: Column) -> Column:
    """Euclidean distance of two array columns, fully JVM-side
    (graphrag-rs vector/mod.rs:750-761 VectorUtils::euclidean_distance,
    incl. the length-mismatch → +Inf guard)."""
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(v1, v2, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return F.when(F.size(v1) == F.size(v2), dist).otherwise(
        F.lit(float("inf"))
    )


def clean_text_col(text: Column) -> Column:
    """Whitespace-normalizing text cleaner (graphrag-rs text/mod.rs:327-336
    TextProcessor::clean_text: split_whitespace + join — i.e. squash runs
    of whitespace to one space and trim the ends)."""
    return F.trim(F.regexp_replace(text, r"\s+", " "))


def normalize_name_col(name: Column) -> Column:
    """JVM equivalent of rules.similarity.normalize_string for ASCII input:
    lowercase, strip non-alnum/space, squash whitespace, trim."""
    lowered = F.lower(name)
    stripped = F.regexp_replace(lowered, r"[^a-z0-9\s]", "")
    return F.trim(F.regexp_replace(stripped, r"\s+", " "))


def cosine_similarity_col(v1: Column, v2: Column) -> Column:
    """Cosine similarity of two array<float|double> columns, fully JVM-side:
    zip_with for the dot product, aggregate for the norms."""
    dot = F.aggregate(
        F.zip_with(v1, v2, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n1 = F.sqrt(F.aggregate(v1, F.lit(0.0), lambda acc, x: acc + x * x))
    n2 = F.sqrt(F.aggregate(v2, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when((n1 > 0) & (n2 > 0), dot / (n1 * n2)).otherwise(F.lit(0.0))


def unit_normalize_col(vec: Column) -> Column:
    """L2-normalize an array column JVM-side (zero vectors pass through).
    Pre-normalizing once per row turns every downstream cosine into a
    single dot product — the cheap form for O(n²)/bucketed similarity."""
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when(
        norm > 0, F.transform(vec, lambda x: x / norm)
    ).otherwise(F.transform(vec, lambda x: x * F.lit(0.0)))


def compute_once(df: DataFrame, exprs: dict[str, Column], tmp: str = "_co") -> DataFrame:
    """Project expensive expressions through a ``Generate`` barrier so each
    is evaluated ONCE per row.

    Plain projections are merged by ``CollapseProject`` and predicates are
    pushed through them by substitution, so an aliased expression gets its
    DEFINITION inlined into every downstream reference — a when-cascade
    with N string probes over a derived column re-scans the source string
    N times (measured in fallback_relations: 38× substring / 228× locate
    in the optimized plan, a 7× wall-time hit). ``explode`` of a 1-element
    array is a Generate node Catalyst cannot substitute through: narrow,
    whole-stage-codegen compatible, adds no rows, and downstream operators
    reference the generated attributes as plain per-row values.

    Use whenever a derived column is referenced many times in the same
    stage (scoring expressions feeding cascades/windows/filters).
    """
    packed = F.struct(*[e.alias(n) for n, e in exprs.items()])
    opened = df.select("*", F.explode(F.array(packed)).alias(tmp))
    return opened.select(
        "*", *[F.col(f"{tmp}.{n}").alias(n) for n in exprs]
    ).drop(tmp)
