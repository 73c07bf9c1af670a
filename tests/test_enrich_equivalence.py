"""r6 optimization guard: the route plan's post-exchange attach
(event_type and parameter positions precomputed per template on the
driver, run here unshuffled) must be row- and column-identical to the
legacy per-row formulation — including dictionary-MISS rows (null
template), empty/whitespace text, token-count mismatches, templates
whose tokens hold non-ASCII whitespace, and the concurrent pipeline."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from sherlog_parser_spark.functions.masking import event_type_expr, extract_params_expr
from sherlog_parser_spark.oracle.matcher import TemplatePool
from sherlog_parser_spark.plans.dictionary import TemplateDictionary, build_template_dictionary
from sherlog_parser_spark.plans.parse import parse_stage
from sherlog_parser_spark.plans.pipeline import run_pipeline
from sherlog_parser_spark.plans.route import route_plan


def legacy_enrich(parsed, template_dict):
    """The pre-r6 per-row formulation, kept as the semantic reference
    for this test."""
    out = parsed.join(F.broadcast(template_dict), "sig", "left")
    out = out.withColumn("event_type", event_type_expr("template"))
    return out.withColumn("parameters", extract_params_expr("text", "template"))


def attached(parsed, tdict):
    """The route plan's attach over its unshuffled frame, without the
    conv_bucket routing key."""
    plan = route_plan(parsed, tdict)
    return plan.attach(plan.frame).drop("conv_bucket")


@pytest.fixture(scope="module")
def parsed_and_dict(spark, transcripts):
    parsed = parse_stage(transcripts).cache()
    tdict = build_template_dictionary(parsed)
    return parsed, tdict


def _canon(df):
    rows = df.collect()
    out = []
    for r in rows:
        d = r.asDict(recursive=True)
        if isinstance(d.get("parameters"), dict):
            d["parameters"] = tuple(sorted(d["parameters"].items()))
        out.append(tuple(sorted(d.items(), key=lambda kv: kv[0])))
    return sorted(out)


def test_enrich_matches_legacy_on_corpus(spark, parsed_and_dict):
    parsed, tdict = parsed_and_dict
    new = attached(parsed, tdict)
    old = legacy_enrich(parsed, tdict.df).select(*new.columns)
    assert new.schema == old.schema
    assert _canon(new) == _canon(old)


def test_enrich_matches_legacy_on_dict_miss_and_edge_text(spark, parsed_and_dict):
    _, tdict = parsed_and_dict
    edge = spark.createDataFrame(
        [
            # sig 12345 is (almost surely) not in the dictionary -> null template
            ("c0", 0, "user", None, "no dict entry here 42", 12345),
            ("c1", 1, "user", None, "", 12345),
            ("c2", 2, "user", None, None, 12345),
            ("c3", 3, "user", None, "   ", 12345),
        ],
        "conv_id string, turn_idx int, tool string, ts timestamp, text string, sig long",
    )
    assert tdict.df.filter(F.col("sig") == 12345).count() == 0
    new = attached(edge, tdict)
    old = legacy_enrich(edge, tdict.df).select(*new.columns)
    assert new.schema == old.schema
    assert _canon(new) == _canon(old)
    # the legacy contract: misses get UNKNOWN event_type, null template,
    # and an EMPTY (not null) parameters map
    row = new.filter(F.col("conv_id") == "c0").collect()[0]
    assert row["event_type"] == "UNKNOWN"
    assert row["template"] is None
    assert row["parameters"] == {}


def test_enrich_matches_legacy_on_token_count_mismatch(spark, parsed_and_dict):
    parsed, tdict = parsed_and_dict
    # graft a WRONG sig onto rows so the joined template's token count
    # differs from the text's -> legacy emits the empty map
    any_sig = tdict.df.select("sig").limit(1).collect()[0][0]
    mismatched = parsed.limit(20).withColumn("sig", F.lit(any_sig))
    new = attached(mismatched, tdict)
    old = legacy_enrich(mismatched, tdict.df).select(*new.columns)
    assert _canon(new) == _canon(old)


def test_enrich_tokenizes_text_once(spark, parsed_and_dict):
    """The bound __lt token array must survive as a single projection —
    if the optimizer inlined it into the params lambda, tokenization
    would re-run per variable position (the documented HOF outer-ref
    trap)."""
    parsed, tdict = parsed_and_dict
    plan = attached(parsed, tdict)._jdf.queryExecution().optimizedPlan().toString()
    # the TEXT tokenization (split(trim(text..)) appears only inside the
    # single projection that binds __lt — at most twice lexically (the
    # two CASE branches of tokens_fast_expr, of which one evaluates per
    # row) and NEVER inside a lambda body, where it would re-run per
    # variable position.  (The template-side tokenization on the
    # ≤10^4-row dict may appear more — that's the cheap side.)
    assert 1 <= plan.count("split(trim(text") <= 2, plan
    # the params lambda must index into the BOUND array attribute
    # (element_at(__lt#N, ...)), not a re-tokenizing expression tree
    assert re.search(r"element_at\(__lt#\d+", plan), plan


# (template, texts): tabs, \xa0 and \x1c inside tokens, leading and
# trailing tabs, every event_type class, and two case mappings that only
# Unicode upper-casing turns into a keyword (dotless i)
ODD_TEMPLATES = [
    ("\tjob <OID> failed\twith <OBA>\t", ["job w-1 failed with 42", "\tjob 0x1f  failed 7"]),
    ("WARN disk\xa0<OBA> low on <OID>", ["WARN disk\xa012 low on host-3", "WARN disk 12 low on h-3"]),
    ("DEBUG sep\x1cfield <OID>\t", ["DEBUG sep\x1cfield id-9", "DEBUG\tsep\x1cfield\tid-9\t"]),
    ("info heartbeat\t<OID>  seq <OBA>", ["info heartbeat n-1 seq 3", "info heartbeat"]),
    ("cache hit for <OID>", ["cache hit for k-7", "cache\xa0hit for k-7 x"]),
    ("fa\u0131l over <OID>", ["fa\u0131l over node-2"]),
    ("\u0131nfo <OBA>", ["\u0131nfo 5"]),
]


def test_enrich_matches_legacy_on_odd_whitespace_templates(spark):
    pool = TemplatePool()
    pool.templates = [t for t, _ in ODD_TEMPLATES]
    pool._sig_to_id = {1000 + tid: tid for tid in range(len(ODD_TEMPLATES))}
    tdict = TemplateDictionary.from_pool(spark, pool, n_sigs=len(ODD_TEMPLATES))
    rows = [
        (f"c{tid}-{j}", j, "user", None, text, 1000 + tid)
        for tid, (_, texts) in enumerate(ODD_TEMPLATES)
        for j, text in enumerate(texts)
    ]
    edge = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, tool string, ts timestamp, text string, sig long"
    )
    new = attached(edge, tdict)
    old = legacy_enrich(edge, tdict.df).select(*new.columns)
    assert new.schema == old.schema
    assert _canon(new) == _canon(old)
    got = {r["conv_id"]: r for r in new.collect()}
    assert [got[f"c{tid}-0"]["event_type"] for tid in range(len(ODD_TEMPLATES))] == [
        "ERROR", "WARNING", "DEBUG", "INFO", "UNKNOWN", "ERROR", "INFO"
    ]
    assert got["c1-0"]["parameters"] == {"param_1_OBA": "disk\xa012", "param_4_OID": "host-3"}


def test_pipeline_parameters_match_extract_params_expr(spark, transcripts, tmp_path):
    """The concurrent path: two route-group writers plus the aggregates
    thread planning queries over the same local tables at once."""
    res = run_pipeline(
        spark, transcripts, str(tmp_path / "run"), commit_groups=4, salt_buckets=2, resume=False
    )
    assert res.dictionary.hot_template_ids(), "must salt at least one hot template"
    sink = spark.read.parquet(res.routed_dir)
    rows = sink.select(
        "parameters", extract_params_expr("text", "template").alias("expected")
    ).collect()
    assert len(rows) == res.n_rows == transcripts.count()
    assert all(r["parameters"] == r["expected"] for r in rows)
