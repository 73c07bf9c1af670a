"""Route stage: the one plan from parsed turns to the partitioned sink.

The reference's per-upload table fan-out (src/ui/log_analyzer.py:39-59)
generalized per north_rule: routed turns land under

    <root>/template_id=<T>/tool=<t>/conv_bucket=<b>/part-*.parquet

``conv_bucket = pmod(xxhash64(conv_id), n_buckets)`` mirrors Iceberg's
``bucket(N, conv_id)`` transform (the parquet directory layout is
the fallback where no Iceberg runtime is available — SURVEY §7.3.6).

:func:`route_plan` builds the route frame once for every caller — the
batch pipeline, streaming, ``run.py --explain`` and the plan dumper
(guide §8 "decide with small rows, move big rows once"):

    parsed ─ broadcast join sig -> template_id, + conv_bucket   (frame)
           ─ salted repartition on template_id, tool,
             conv_bucket, salt                                  (routed)
           ─ broadcast join of the per-template metadata:
             template, event_type, parameter positions          (attach)

The exchange carries only the raw row + ``template_id`` +
``conv_bucket``; everything functionally dependent on the template is
computed once per template on the driver into one local table and
attached after the shuffle, so per-row work reduces to one whitespace
tokenization of ``text`` plus positional indexing.  A dictionary miss (null
``template_id``) gets a null template, ``UNKNOWN`` event type and an
empty parameters map — the legacy per-row values (pinned by
tests/test_enrich_equivalence.py).

Skew: hot templates (Zipfian) are spread across writer tasks by a salt
derived from (conv_id, turn_idx), so one template does not serialize
into one task; AQE skew handling remains on as backstop.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sherlog_parser_spark.functions.masking import (
    apply_params_expr,
    event_type_py,
    param_meta_py,
    tokens_fast_expr,
)
from sherlog_parser_spark.plans.dictionary import TemplateDictionary, local_table

# FIXTURES.md §5 sink schema (reference store analog, src/core/timeseries.py:251-264)
ROUTE_COLS = [
    "conv_id", "turn_idx", "role", "tool", "ts", "text",
    "template_id", "template", "parameters", "event_type",
]
ROUTE_PARTITIONS = ("template_id", "tool", "conv_bucket")
META_SCHEMA = (
    "template_id long, template string, event_type string,"
    " n_toks int, keys array<string>, idxs array<int>"
)


def conv_bucket_expr(conv_id: Column | str, n_buckets: int) -> Column:
    c = F.col(conv_id) if isinstance(conv_id, str) else conv_id
    return F.pmod(F.xxhash64(c), F.lit(n_buckets)).cast("int")


def salt_expr(hot_template_ids: list[int] | None, salt_buckets: int):
    """Salt ONLY the Zipf-head templates: cold (template,tool,bucket)
    combos land in exactly one writer task -> one file; hot combos are
    spread over ``salt_buckets`` tasks.  Unconditional salting would
    multiply the sink's file count by salt_buckets (measured 4x file
    explosion == 4x write wall time at small scale)."""
    if not hot_template_ids or salt_buckets <= 1:
        return F.lit(0)
    return F.when(
        F.col("template_id").isin(*hot_template_ids),
        F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(salt_buckets)),
    ).otherwise(F.lit(0))


@dataclass(frozen=True)
class RoutePlan:
    """The route stage for one parsed input and frozen dictionary.

    ``frame`` is the slim pre-shuffle frame (raw row + ``template_id`` +
    ``conv_bucket``); callers may filter or observe it before
    :meth:`routed`.  ``meta`` is the per-template table (``META_SCHEMA``);
    ``templates``, its ``(template_id, template)`` part, feeds the rollup."""

    frame: DataFrame
    meta: DataFrame
    templates: DataFrame
    n_buckets: int
    _salt: Column

    def attach(self, frame: DataFrame) -> DataFrame:
        """Attach template, event_type and parameters to a slice of
        ``frame`` (unshuffled); returns the sink columns + conv_bucket."""
        pmeta = F.struct("n_toks", "keys", "idxs")
        out = (
            frame.join(F.broadcast(self.meta), "template_id", "left")
            .withColumn("event_type", F.coalesce(F.col("event_type"), F.lit("UNKNOWN")))
            .withColumn("__lt", tokens_fast_expr("text"))
            .withColumn("parameters", apply_params_expr(F.col("__lt"), pmeta))
        )
        return out.select(*[c for c in ROUTE_COLS if c in out.columns], "conv_bucket")

    def routed(self, frame: DataFrame) -> DataFrame:
        """The salted route exchange, then the post-exchange attach."""
        return self.attach(frame.repartition(*map(F.col, ROUTE_PARTITIONS), self._salt))


def route_plan(
    parsed: DataFrame,
    tdict: TemplateDictionary,
    n_buckets: int = 8,
    salt_buckets: int = 4,
) -> RoutePlan:
    """Build the route stage over ``parsed`` (parse_stage output, batch
    or streaming).  Pure: defines frames, runs no job."""
    frame = (
        parsed.select(*[c for c in ROUTE_COLS if c in parsed.columns], "sig")
        .join(F.broadcast(tdict.df.select("sig", "template_id")), "sig", "left")
        .drop("sig")
        .withColumn("conv_bucket", conv_bucket_expr("conv_id", n_buckets))
    )
    rows = [(tid, t, event_type_py(t), *param_meta_py(t)) for tid, t in enumerate(tdict.templates)]
    meta = local_table(parsed.sparkSession, rows, META_SCHEMA)
    templates = meta.select("template_id", "template")
    return RoutePlan(
        frame, meta, templates, n_buckets, salt_expr(tdict.hot_template_ids(), salt_buckets)
    )


def write_routed(frame: DataFrame, path: str, partition_by=ROUTE_PARTITIONS) -> None:
    """Write routed rows with dynamic partition overwrite, so rewriting a
    slice replaces exactly its own partitions (idempotent retries)."""
    (
        frame.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        # selective dictionary encoding (r6 A/B at 1 core, one group:
        # dict-off 40.6s/187MB, dict-on 47.9s/160MB, SELECTIVE
        # 38.9s/163MB): ON for the low-cardinality columns (template,
        # event_type, role, parameter keys), OFF for the high-cardinality
        # payloads whose hashing only burned CPU
        .option("parquet.enable.dictionary", "true")
        .option("parquet.enable.dictionary#text", "false")
        .option("parquet.enable.dictionary#conv_id", "false")
        .option("parquet.enable.dictionary#parameters.key_value.value", "false")
        .partitionBy(*partition_by)
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Iceberg writeTo path (north_rule "Iceberg sinks").
#
# Install attempt recorded (r2): this sandbox has NO iceberg-spark-runtime
# jar on disk (`find / -name '*iceberg*'` empty) and NO network (DNS
# resolution fails for repo1.maven.org), so the runtime jar cannot be
# fetched and `spark.jars.packages` cannot resolve.  The code path below
# is therefore exercised in tests only up to its detection/fallback
# branch; on a cluster WITH the jar + a configured catalog it performs the
# real `writeTo(...).partitionedBy(bucket(N, conv_id), ...)` append.
# ---------------------------------------------------------------------------


def iceberg_available(spark) -> bool:
    """True iff the Iceberg SparkCatalog class is loadable in this JVM."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def route_stage_iceberg(
    plan: RoutePlan,
    table: str,
    create: bool = True,
    fallback_dir: str | None = None,
) -> str:
    """Route into an Iceberg table partitioned by
    ``(bucket(n_buckets, conv_id), days(ts), template_id)`` — the
    north_rule layout — via the DataFrameWriterV2 API.  Returns which
    path ran: 'iceberg' or 'parquet-fallback'.

    When the runtime jar is absent, falls back to the
    batch parquet route into ``fallback_dir`` (same data,
    directory-encoded partitioning) and returns 'parquet-fallback';
    raises if neither path is possible.
    """
    spark = plan.frame.sparkSession
    if iceberg_available(spark):
        from pyspark.sql.functions import partitioning as P

        writer = plan.attach(plan.frame).drop("conv_bucket").writeTo(table).partitionedBy(
            P.bucket(plan.n_buckets, F.col("conv_id")), P.days(F.col("ts")), F.col("template_id")
        )
        if create:
            writer.createOrReplace()
        else:
            writer.append()
        return "iceberg"
    if fallback_dir is None:
        raise RuntimeError(
            "Iceberg runtime jar is not on the classpath and no fallback_dir "
            "was given; install iceberg-spark-runtime and configure a catalog"
        )
    write_routed(plan.routed(plan.frame), fallback_dir)
    return "parquet-fallback"
