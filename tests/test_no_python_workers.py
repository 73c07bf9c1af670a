"""The default transcript pipeline (``use_arrow_udf=False``) evaluates no
Python on executors: the driver-built tables are JVM local relations,
not ``createDataFrame(list)`` RDDs that re-run Python in every query that
reads them."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from sherlog_parser_spark.plans.aggregate import sink_rollup_slim
from sherlog_parser_spark.plans.dictionary import (
    build_template_dictionary,
    dictionary_from_state,
    dictionary_state,
)
from sherlog_parser_spark.plans.llm_extract import extend_dictionary
from sherlog_parser_spark.plans.parse import parse_stage
from sherlog_parser_spark.plans.route import route_plan

PYTHON_NODES = ("LogicalRDD", "ExistingRDD", "PythonRDD", "BatchEvalPython", "ArrowEvalPython")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _python_nodes(df) -> list[str]:
    qe = df._jdf.queryExecution()
    plans = qe.optimizedPlan().toString() + qe.executedPlan().toString()
    return [n for n in PYTHON_NODES if n in plans]


def test_pipeline_frames_evaluate_no_python(spark, transcripts):
    parsed = parse_stage(transcripts)
    tdict = build_template_dictionary(parsed)
    plan = route_plan(parsed, tdict, salt_buckets=2)
    # hand-built extractor output; extend_dictionary collects it to the driver
    new = spark.createDataFrame([(7, "novel <OID> shape")], "sig long, template string")
    frames = {
        "build_template_dictionary": tdict.df,
        "dictionary_from_state": dictionary_from_state(spark, dictionary_state(tdict)).df,
        "extend_dictionary": extend_dictionary(tdict, new).df,
        "templates": plan.templates,
        "meta": plan.meta,
        "routed": plan.routed(plan.frame),
        "sink_rollup_slim": sink_rollup_slim(plan.frame, plan.templates),
    }
    found = {name: _python_nodes(df) for name, df in frames.items()}
    assert found == {name: [] for name in frames}, found
    # the broadcast tables live in the plan: building them runs no job
    for df in (tdict.df, plan.meta):
        assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()


PROBE = textwrap.dedent(
    """
    import json, os, sys
    sys.path.insert(0, sys.argv[1])
    from pyspark.sql import functions as F
    from sherlog_parser_spark.data.transcripts import generate_transcripts
    from sherlog_parser_spark.plans.pipeline import run_pipeline
    from sherlog_parser_spark.session import get_spark

    def daemons():
        procs = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    with open(f"/proc/{pid}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                    with open(f"/proc/{pid}/cmdline") as f:
                        argv = f.read().split("\\0")
                except OSError:
                    continue
                procs[int(pid)] = (ppid, argv)
        tree, frontier = set(), {os.getpid()}
        while frontier:
            tree |= frontier
            frontier = {p for p, (pp, _) in procs.items() if pp in frontier and p not in tree}
        # the worker runs as `python -m pyspark.daemon`
        return sum("pyspark.daemon" in procs[p][1] for p in tree if p in procs)

    spark = get_spark("no-python-probe", master="local[2]", shuffle_partitions=4)
    transcripts = generate_transcripts(spark, n_convs=120, seed=3)
    out = sys.argv[2]
    first = run_pipeline(spark, transcripts, out, commit_groups=2, resume=False)
    manifest = os.path.join(out, "_manifest.jsonl")
    with open(manifest) as f:
        lines = f.readlines()
    with open(manifest, "w") as f:
        f.writelines(lines[:2])
    resumed = run_pipeline(spark, transcripts, out, commit_groups=2, resume=True)
    after_pipeline = daemons()
    # positive control: a pandas UDF does fork the daemon this probe counts
    spark.range(4).select(F.pandas_udf(lambda s: s + 1, "long")("id")).collect()
    print(json.dumps({
        "rows": [first.n_rows, resumed.n_rows],
        "daemons_after_pipeline": after_pipeline,
        "daemons_after_udf": daemons(),
    }))
    spark.stop()
    """
)


def test_default_pipeline_forks_no_python_worker(tmp_path):
    """Clean run plus resume in a fresh JVM: no ``pyspark.daemon`` child."""
    proc = subprocess.run(
        [sys.executable, "-c", PROBE, ROOT, str(tmp_path / "run")],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["rows"][0] == got["rows"][1] > 0
    assert got["daemons_after_pipeline"] == 0
    assert got["daemons_after_udf"] > 0
