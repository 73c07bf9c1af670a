"""The benchmark's workloads.

Both are closed loops with one client: each call starts only after the
previous one returned.  Both time the same shape of work, a cold clean run
of a checkpointed batch job followed by a resume after a crash between
commit groups, so ``first_cpu_s`` and ``rerun_cpu_s`` mean the same on
both:

* ``short_turns`` — the transcript pipeline (parse -> dictionary -> salted
  route -> checkpointed sink -> rollups) with ``run.py``'s defaults, over
  conversations sampled by ``--seed`` from the committed
  ``generate_transcripts`` pool.
* ``curation`` — ``run_curation_pipeline`` (exact dedup -> minhash ->
  substring cuts -> quality -> PII -> decontamination -> checkpointed sink)
  over the vendored sf0.01 documents, with ``bench.py``'s split.  The table
  is fixed (seed 42), so ``--seed`` does not change this input.

The crash is simulated by cutting ``_manifest.jsonl`` back to the run
header plus the first half of the group entries, the state a crash between
groups leaves.  Every call is checked; a call that raises or fails its
check counts as one failed operation.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import harness as H
from perfbench import trace as T

SHORT_CONVS = 5_000
PIPELINE_ARGS = dict(
    n_buckets=8, commit_groups=4, salt_buckets=4, persist_parsed=True, aggregate_source="enriched"
)
CURATION_GROUPS = 2  # bench.py's pipeline_curation config


@dataclass
class Result:
    metrics: dict[str, float] = field(default_factory=dict)  # end-to-end
    layers: dict[str, float] = field(default_factory=dict)  # per-layer (traced run)
    props: dict[str, object] = field(default_factory=dict)  # input properties
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def attempt(self, fn, *args, **kwargs):
        """Run one checked operation; returns its value or None if it failed."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # counted, reported, and the loop goes on
            self.failed += 1
            msg = f"{type(e).__name__}: {e}"
            if not isinstance(e, H.CheckFailed):
                msg += "\n" + traceback.format_exc(limit=3)
            self.errors.append(msg[:2000])
            return None


_T0 = time.perf_counter()


def _log(what: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {what}", file=sys.stderr, flush=True)


@dataclass
class Cost:
    wall_s: float
    cpu_s: float


def _timed(fn, *args, **kwargs):
    """(fn's result, Cost of the call)."""
    t0, c0 = time.perf_counter(), H.cpu_seconds()
    out = fn(*args, **kwargs)
    return out, Cost(time.perf_counter() - t0, H.cpu_seconds() - c0)


def _truncate_manifest(out: str, commit_groups: int) -> None:
    path = os.path.join(out, "_manifest.jsonl")
    with open(path) as f:
        lines = [ln for ln in f if ln.strip()]
    with open(path, "w") as f:
        f.writelines(lines[: 1 + commit_groups // 2])


def _clean_then_resume(res: Result, job, check, out: str, groups: int, tracer, layer: str):
    """One clean call of ``job(resume)`` and one resume call after the
    simulated crash; each call plus ``check(result, expect)`` is one
    operation.  Returns (clean Cost, resume Cost, clean result), or None
    if either operation failed.  With a tracer, the calls run inside root
    spans ``<layer>.first`` / ``<layer>.rerun``."""

    def call(kind: str, resume: bool):
        with tracer.root_span(f"{layer}.{kind}") if tracer else contextlib.nullcontext():
            result, cost = _timed(job, resume)
        _log(f"{layer} {kind} {cost.wall_s:.2f}s")
        return result, cost

    def clean_op():
        shutil.rmtree(out, ignore_errors=True)
        result, cost = call("first", resume=False)
        return cost, result, check(result, None)

    def resume_op(expect):
        _truncate_manifest(out, groups)
        result, cost = call("rerun", resume=True)
        check(result, expect)
        return cost

    first = res.attempt(clean_op)
    if first is None:
        return None
    clean_c, clean, expect = first
    resume_c = res.attempt(resume_op, expect)
    return None if resume_c is None else (clean_c, resume_c, clean)


def _loop(seconds: float, trace: bool, iteration) -> list:
    """Run ``iteration()`` until ``seconds`` have passed, at least once (a
    traced run traces exactly one).  Returns the successful iterations."""
    done = []
    t0 = time.perf_counter()
    while not done or (not trace and time.perf_counter() - t0 < seconds):
        got = iteration()
        if got is None:
            break
        done.append(got)
    return done


def _end_to_end(start_s: float, its: list, stored: float) -> tuple[dict, dict]:
    """(end-to-end metrics, wall-clock figures for the properties line).

    The timed calls are gated on CPU seconds, not wall seconds: on the
    shared 4-vCPU VM the benchmark was built on, the host stole up to 15%
    of the vCPUs and ten-run wall-time spreads (IQR / median) reached 0.22
    for the clean call and 0.44 for the resume, up to or past any allowed bound,
    while CPU-second spreads stayed between 0.05 and 0.22.  Wall times are
    still reported."""
    walls = {
        "first_wall_s": round(its[0][0].wall_s, 3),
        "rerun_wall_s": round(statistics.median(it[1].wall_s for it in its), 3),
        "peak_rss_mb": round(H.peak_rss_mb([os.getpid(), H.jvm_pid()]), 1),
    }
    metrics = {
        "setup_s": start_s,
        # the session's first call of the job: what one spark-submit pays
        "first_cpu_s": its[0][0].cpu_s,
        "rerun_cpu_s": statistics.median(it[1].cpu_s for it in its),
        "stored_bytes_per_input_byte": stored,
    }
    return metrics, walls


# -- short_turns --------------------------------------------------------------


def _check_pipeline(con, out: str, meta: dict, expect: tuple | None):
    """Sink rows and row-set fingerprint equal the input's; the template
    frequency rollup sums to the row count and matches the sink per
    template; with ``expect``, the sink equals an earlier clean sink."""
    n, fp, per_t = H.sink_fingerprint(con, os.path.join(out, "routed"))
    H.check(n == meta["turns"], f"sink rows {n} != input rows {meta['turns']}")
    H.check(fp == meta["fp"], "sink row-set fingerprint != input fingerprint")
    freq = dict(
        con.execute(
            f"SELECT template_id, frequency FROM read_parquet('{out}/agg_template_freq/*.parquet')"
        ).fetchall()
    )
    H.check(sum(freq.values()) == n, f"sum(frequency) {sum(freq.values())} != rows {n}")
    H.check(freq == per_t, "agg_template_freq counts != sink per-template counts")
    if expect is not None:
        H.check((n, fp, per_t) == expect, "resumed sink != clean sink")
    return n, fp, per_t


def short_turns(seed: int, seconds: float, trace: bool) -> Result:
    from sherlog_parser_spark.plans.parse import parse_stage
    from sherlog_parser_spark.plans.pipeline import run_pipeline

    res = Result()
    spark, start_s = H.start_session(trace)
    _log(f"session {start_s:.2f}s")
    try:
        main = H.sample_input(seed, SHORT_CONVS)
        df = spark.read.parquet(main.path)
        con = H.duck()
        out = os.path.join(H.WORK, "out")
        tracer = T.Tracer(spark.sparkContext) if trace else None
        sinks = []

        def job(resume: bool):
            return run_pipeline(spark, df, out, resume=resume, **PIPELINE_ARGS)

        def check(_result, expect):
            got = _check_pipeline(con, out, main.meta, expect)
            if expect is None:
                sinks.append(H.parquet_bytes(os.path.join(out, "routed")))  # the clean sink's shape
            return got

        groups = PIPELINE_ARGS["commit_groups"]
        with T.installed(tracer):
            its = _loop(seconds, trace, lambda: _clean_then_resume(res, job, check, out, groups, tracer, "pipeline"))
        if not its:
            return res
        clean = its[0][2]
        sink_bytes, sink_files, sink_dirs = sinks[0]
        res.metrics, walls = _end_to_end(start_s, its, sink_bytes / main.meta["input_bytes"])
        counts = clean.dictionary.counts or {}
        res.props = {
            **walls,
            "turns": main.meta["turns"],
            "input_bytes": main.meta["input_bytes"],
            "mean_text_bytes": round(main.meta["mean_text_bytes"], 3),
            "distinct_signatures": clean.dictionary.n_sigs,
            "templates": len(clean.dictionary.templates),
            "top_template_share": round(max(counts.values()) / sum(counts.values()), 4),
            "sink_partitions": sink_dirs,
            "sink_files": sink_files,
            "turns_per_s": round(main.meta["turns"] / its[0][0].wall_s, 1),
            "iterations": len(its),
            "gen_version": main.meta["gen_version"],
        }
        if trace:
            res.layers = _pipeline_layers(tracer, clean, sinks[0])
            res.layers["aggregate.rollup_rows"] = con.execute(
                f"SELECT count(*) FROM read_parquet('{out}/agg_tool_usage/*.parquet')"
            ).fetchone()[0]
            parse_s = _timed(lambda: parse_stage(df).write.format("noop").mode("overwrite").save())[1].wall_s
            res.layers["parse.isolated_s"] = parse_s
            res.layers["parse.ns_per_byte"] = parse_s * 1e9 / (main.meta["turns"] * main.meta["mean_text_bytes"])
        con.close()
    finally:
        H.stop_session(spark)
    if trace:
        res.layers.update({"session.start_s": start_s, "session.peak_rss_mb": walls["peak_rss_mb"]})
        _fold_event_log(res.layers, "pipeline")
    return res


def _iv(spans):
    return [(s.start, s.end) for s in spans]


def _dur(spans):
    return sum(s.end - s.start for s in spans)


def _common_layers(tracer: T.Tracer, layer: str) -> tuple[dict, dict]:
    """Per-layer figures both workloads have (checkpoint, rerun, trace
    accounting), plus the first root's self times."""
    first, rerun = tracer.find_root(f"{layer}.first"), tracer.find_root(f"{layer}.rerun")
    selfs, untraced = T.self_times(tracer, first)
    _, r_untraced = T.self_times(tracer, rerun)
    first_wall = first.end - first.start
    # self times + untraced time == traced wall, exactly by construction
    _log(f"{layer}.first: unattributed {first_wall - untraced - sum(selfs.values()):.2e}s")
    commits = tracer.under(first, "checkpoint.commit")
    return selfs, {
        f"{layer}.first_wall_s": first_wall,
        f"{layer}.untraced_s": untraced,
        "checkpoint.commits": len(commits),
        "checkpoint.commit_s": _dur(commits),
        "checkpoint.load_s": _dur(tracer.under(rerun, "checkpoint.load")),
        "checkpoint.skipped_groups": tracer.counters.get("checkpoint.skipped_groups", 0),
        "checkpoint.self_s": T.layer_self(selfs, "checkpoint"),
        "rerun.wall_s": rerun.end - rerun.start,
        "rerun.untraced_s": r_untraced,
        "trace.overhead_s": tracer.counters.get("trace.overhead_s", 0.0),
    }


def _pipeline_layers(tracer: T.Tracer, clean, sink: tuple) -> dict:
    """Per-layer figures of the traced pipeline iteration, from its spans."""
    first, rerun = tracer.find_root("pipeline.first"), tracer.find_root("pipeline.rerun")
    selfs, layers = _common_layers(tracer, "pipeline")
    build, merges = tracer.under(first, "dictionary.build"), tracer.under(first, "dictionary.merge")
    routes, aggs = tracer.under(first, "route.write"), tracer.under(first, "aggregate.write")
    agg_union = T.union_s(_iv(aggs))
    c = tracer.counters
    layers.update({
        "parse_cache.mem_bytes": c.get("parse_cache.mem_bytes", 0),
        "parse_cache.disk_bytes": c.get("parse_cache.disk_bytes", 0),
        "dictionary.wall_s": _dur(build),
        # the collect (which also fills the parse cache) runs before the first merge
        "dictionary.collect_s": (min(m.start for m in merges) - build[0].start) if merges else _dur(build),
        "dictionary.merge_s": _dur(merges),
        "dictionary.self_s": T.layer_self(selfs, "dictionary"),
        "dictionary.sigs": clean.dictionary.n_sigs,
        "dictionary.templates": len(clean.dictionary.templates),
        "dictionary.comparisons": c.get("dictionary.comparisons", 0),
        "dictionary.merge_hit_ratio": c.get("dictionary.merges", 0) / max(1, c.get("dictionary.comparisons", 0)),
        "route.write_s": _dur(routes),
        "route.write_max_s": max((s.end - s.start for s in routes), default=0.0),
        "route.busy_union_s": T.union_s(_iv(routes)),
        "route.self_s": T.layer_self(selfs, "route"),
        "route.sink_bytes": sink[0],
        "route.sink_files": sink[1],
        "route.sink_dirs": sink[2],
        "aggregate.wall_s": agg_union,
        "aggregate.overlap_frac": T.overlap_s(_iv(aggs), _iv(routes)) / agg_union if agg_union else 0.0,
        "aggregate.self_s": T.layer_self(selfs, "aggregate"),
        "rerun.dictionary_s": _dur(tracer.under(rerun, "dictionary.from_state")),
        "rerun.route_busy_union_s": T.union_s(_iv(tracer.under(rerun, "route.write"))),
        "rerun.aggregate_wall_s": T.union_s(_iv(tracer.under(rerun, "aggregate.write"))),
    })
    return layers


def _fold_event_log(layers: dict, layer: str) -> None:
    """Fold the traced session's event log onto the recorded layers."""
    stages, stage_tag, jobs = T.read_event_log(os.path.join(H.WORK, "eventlog"))
    root = f"{layer}.first"
    whole = T.fold(stages, stage_tag, None, root)
    layers[f"{layer}.executor_s"] = whole["executor_s"]
    layers[f"{layer}.executor_busy_frac"] = whole["executor_s"] / (layers[f"{layer}.first_wall_s"] * H.CORES)
    layers[f"{layer}.jobs"] = sum(1 for tag in jobs.values() if tag[1] == root)
    layers[f"{layer}.stages"] = whole["stages"]
    if layer == "pipeline":
        route = T.fold(stages, stage_tag, "route.write", root)
        for k in ("executor_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "task_skew"):
            layers[f"route.{k}"] = route[k]
        layers["aggregate.executor_s"] = T.fold(stages, stage_tag, "aggregate.write", root)["executor_s"]
        # the dictionary's first stage scans, masks and writes the parse cache
        fill = min(
            (sid for sid, tag in stage_tag.items() if tag == ("dictionary.build", root) and sid in stages),
            default=None,
        )
        layers["parse_cache.fill_s"] = stages[fill].completed - stages[fill].submitted if fill is not None else 0.0


# -- curation -----------------------------------------------------------------


def _check_curation(con, result, expected: dict, expect: list | None):
    """Fate counts and the cleaned sink's (doc_id, md5(text)) rows equal
    the DuckDB replay of the whole chain (``oracle_sql()['curation_ledger']``,
    precomputed by ``make_data.py``); with ``expect``, the sink also equals
    the earlier clean sink."""
    H.check(result.fate_counts == expected["fates"], f"fates {result.fate_counts} != oracle {expected['fates']}")
    kept = [
        list(r)
        for r in con.execute(
            f"SELECT doc_id, md5(text) FROM read_parquet('{result.cleaned_dir}/*/*.parquet') ORDER BY doc_id"
        ).fetchall()
    ]
    H.check(kept == expected["kept"], "cleaned sink rows differ from the oracle's kept documents")
    H.check(result.n_rows == len(kept), f"n_rows {result.n_rows} != sink rows {len(kept)}")
    if expect is not None:
        H.check(kept == expect, "resumed sink != clean sink")
    return kept


def curation(seed: int, seconds: float, trace: bool) -> Result:
    from pyspark.sql import functions as F

    from sherlog_parser_spark.plans.curation import run_curation_pipeline

    del seed  # the vendored table is fixed at seed 42
    res = Result()
    spark, start_s = H.start_session(trace)
    _log(f"session {start_s:.2f}s")
    try:
        with open(H.CURATION_EXPECTED) as f:
            expected = json.load(f)
        docs_path = os.path.join(H.SF_DIR, "documents.parquet")
        docs = spark.read.parquet(docs_path)
        con = H.duck()
        out = os.path.join(H.WORK, "curation")
        tracer = T.Tracer(spark.sparkContext) if trace else None

        def job(resume: bool):
            return run_curation_pipeline(
                spark,
                docs.filter(F.col("doc_id") % 50 != 0),
                out,
                bench_docs=docs.filter(F.col("doc_id") % 50 == 0),
                resume=resume,
                commit_groups=CURATION_GROUPS,
            )

        def check(result, expect):
            return _check_curation(con, result, expected, expect)

        with T.installed(tracer):
            its = _loop(
                seconds, trace, lambda: _clean_then_resume(res, job, check, out, CURATION_GROUPS, tracer, "curation")
            )
        if not its:
            return res
        cleaned = H.parquet_bytes(its[0][2].cleaned_dir)
        res.metrics, walls = _end_to_end(start_s, its, cleaned[0] / os.path.getsize(docs_path))
        res.props = {
            **walls,
            "documents": con.execute(f"SELECT count(*) FROM '{docs_path}'").fetchone()[0],
            "input_bytes": os.path.getsize(docs_path),
            "fates": its[0][2].fate_counts,
            "sink_files": cleaned[1],
            "sink_partitions": cleaned[2],
            "iterations": len(its),
        }
        if trace:
            _, res.layers = _common_layers(tracer, "curation")
            first = tracer.find_root("curation.first")
            res.layers["curation.sink_write_s"] = T.union_s(_iv(tracer.under(first, "sink.write")))
        con.close()
    finally:
        H.stop_session(spark)
    if trace:
        res.layers.update({"session.start_s": start_s, "session.peak_rss_mb": walls["peak_rss_mb"]})
        _fold_event_log(res.layers, "curation")
    return res


WORKLOADS = {"short_turns": short_turns, "curation": curation}
