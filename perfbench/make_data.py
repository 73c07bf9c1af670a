"""Regenerate the benchmark's committed data files.

    python3 perfbench/make_data.py

Run from the repository root.  It writes two files under ``perfbench/data``:

* ``transcripts_pool.parquet`` — the stock
  ``generate_transcripts(n_convs=POOL_CONVS, seed=42)`` as one parquet
  file.  ``short_turns`` picks its conversations from this pool with a
  seeded hash instead of generating them in its own Spark session: that
  saves a JVM job per run and leaves the session equally cold on every
  run (a generation job in the same session warms the JVM, which moved
  the first timed call by about 24% depending on whether it ran).
* ``curation_expected.json`` — the DuckDB replay of the whole curation
  chain, ``__spark_entry__.oracle_sql()['curation_ledger']``, over the
  vendored sf0.01 documents: fate counts and the kept documents'
  ``(doc_id, md5(text))``.  It takes about 25 s, so the ``curation``
  workload checks against this precomputed copy.

Bump ``harness.GEN_VERSION`` when the pool changes.
"""

from __future__ import annotations

import collections
import glob
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
POOL_CONVS = 20_000


def make_pool(H) -> None:
    from sherlog_parser_spark.data.transcripts import generate_transcripts

    spark, _ = H.start_session(trace=False)
    tmp = os.path.join(H.WORK, "pool")
    try:
        generate_transcripts(spark, n_convs=POOL_CONVS, seed=42).coalesce(1).write.option(
            "compression", "zstd"
        ).mode("overwrite").parquet(tmp)
    finally:
        H.stop_session(spark)
    (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
    shutil.move(part, H.POOL)


def make_curation_expected(H) -> None:
    import __spark_entry__ as entry

    con = H.duck()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{H.SF_DIR}/documents.parquet'")
    rows = con.execute(entry.oracle_sql()["curation_ledger"]).fetchall()
    con.close()
    expected = {
        "fates": dict(sorted(collections.Counter(fate for _, fate, _ in rows).items())),
        "kept": sorted([doc_id, md5] for doc_id, fate, md5 in rows if fate == "kept"),
    }
    with open(H.CURATION_EXPECTED, "w") as f:
        json.dump(expected, f)


def main() -> None:
    sys.path.insert(0, os.path.dirname(HERE))
    from perfbench import harness as H

    H.fresh_work()
    try:
        make_pool(H)
        make_curation_expected(H)
    finally:
        shutil.rmtree(H.WORK, ignore_errors=True)
    for p in (H.POOL, H.CURATION_EXPECTED):
        print(p, os.path.getsize(p))


if __name__ == "__main__":
    main()
