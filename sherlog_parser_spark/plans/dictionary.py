"""Template-dictionary build: distributed groupBy + tiny driver merge.

The reference's shared mutable template pool + trie under RW locks
(cpp/src/log_parser.cpp:386-438) is replaced by a functional two-step:

1. DISTRIBUTED: one hash aggregation collapses ~anything (10^12 turns)
   to one row per distinct masked template — the only data that ever
   reaches the driver.  Log/transcript corpora have O(10^2..10^4)
   distinct shapes, so the collect is bounded and cheap.
2. DRIVER: replay the reference's sequential similarity-merge
   (oracle/matcher.TemplatePool — the same module the parity oracle
   uses) over the distinct templates in canonical first-arrival order
   (min (ts, conv_id, turn_idx) per sig).  This confines ALL
   order-sensitive behavior to ≤10^4 rows and makes the outcome
   identical to the sequential reference run (SURVEY §7.0).

The frozen ``sig -> (template_id, template)`` dictionary is returned as
a local relation (:func:`local_table`) downstream stages broadcast-join.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from sherlog_parser_spark.oracle.matcher import TemplatePool

MAX_DICT_ROWS = 1_000_000  # hard guard: refuse to collect unbounded dictionaries


def local_table(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-built rows as a JVM ``LocalRelation`` (an Arrow table with
    the explicit DDL ``schema``): reading it forks no Python worker and
    its broadcast runs no job.  Two traps:

    * ``spark.createDataFrame(list)`` is a Python RDD that EVERY query
      reading it re-runs on ``pyspark.daemon`` workers.
    * ``ConvertToLocalRelation`` folds higher-order-function projections
      over a local relation at optimization time, and concurrently
      planned queries share their lambda variables ("The key array and
      value array of MapData must have the same length"): derive such
      columns in Python."""
    st = StructType.fromDDL(schema)
    table = pa.Table.from_pylist([dict(zip(st.names, r)) for r in rows], to_arrow_schema(st))
    return spark.createDataFrame(table)


@dataclass
class TemplateDictionary:
    df: DataFrame  # sig:long, template_id:long, template:string
    pool: TemplatePool
    n_sigs: int
    counts: dict[int, int] | None = None  # template_id -> row count

    @classmethod
    def from_pool(
        cls, spark: SparkSession, pool: TemplatePool, n_sigs: int, counts: dict | None = None
    ) -> "TemplateDictionary":
        """The frozen dictionary of a merged ``pool``.  ``df`` is a
        :func:`local_table`: never ``createDataFrame(list)`` (Python re-run
        per query) nor HOF projections over it (racy concurrent planning)."""
        rows = [(sig, tid, pool.templates[tid]) for sig, tid in pool.mapping().items()]
        df = local_table(spark, rows, "sig long, template_id long, template string")
        return cls(df, pool, n_sigs, counts)

    @property
    def templates(self) -> list[str]:
        return list(self.pool.templates)

    def hot_template_ids(self, frac: float = 0.05) -> list[int]:
        """Template ids covering more than ``frac`` of all rows — the
        Zipf head that needs salted writes/aggs (SURVEY §4.2)."""
        if not self.counts:
            return []
        total = sum(self.counts.values())
        return sorted(tid for tid, c in self.counts.items() if c > frac * total)


def build_template_dictionary(
    parsed: DataFrame,
    order_cols: tuple[str, ...] = ("ts", "conv_id", "turn_idx"),
    threshold: float = 0.8,
) -> TemplateDictionary:
    """parsed must carry ``sig`` + ``masked`` + order_cols."""
    spark = parsed.sparkSession
    agg = (
        parsed.groupBy("sig")
        .agg(
            F.min("masked").alias("masked"),  # functionally dependent on sig
            F.min(F.struct(*order_cols)).alias("first_seen"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("first_seen", "sig")
        .limit(MAX_DICT_ROWS + 1)
    )
    rows = agg.collect()
    if len(rows) > MAX_DICT_ROWS:
        raise RuntimeError(
            f"template dictionary exceeds {MAX_DICT_ROWS} distinct signatures; "
            "masking rules are not collapsing this corpus — refusing driver collect"
        )
    pool = TemplatePool(threshold=threshold)
    counts: dict[int, int] = {}
    for r in rows:
        tid = pool.add(r["sig"], r["masked"])
        counts[tid] = counts.get(tid, 0) + int(r["n"])
    return TemplateDictionary.from_pool(spark, pool, n_sigs=len(rows), counts=counts)


def dictionary_state(tdict: TemplateDictionary) -> dict:
    """JSON-serializable snapshot — persisted next to the checkpoint
    manifest so a resumed run reuses the SAME template-id assignment
    instead of rebuilding from the current input (r1 ADVICE)."""
    return {
        "templates": tdict.templates,
        "mapping": {str(sig): tid for sig, tid in tdict.pool.mapping().items()},
        "counts": {str(tid): n for tid, n in (tdict.counts or {}).items()},
        "n_sigs": tdict.n_sigs,
        "threshold": tdict.pool.threshold,
    }


def dictionary_from_state(spark: SparkSession, state: dict) -> TemplateDictionary:
    pool = TemplatePool(threshold=state.get("threshold", 0.8))
    pool.templates = list(state["templates"])
    pool._sig_to_id = {int(s): int(t) for s, t in state["mapping"].items()}
    counts = {int(t): int(n) for t, n in state["counts"].items()}
    return TemplateDictionary.from_pool(spark, pool, int(state["n_sigs"]), counts)
