"""P3 LLM-extraction stage: injectable batched extractor over the
distinct-signature frame (P6 cache-once semantics), dictionary
extension through the shared pool merge."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sherlog_parser_spark.plans.dictionary import build_template_dictionary
from sherlog_parser_spark.plans.llm_extract import (
    extend_dictionary,
    extract_new_templates,
    heuristic_extractor,
)
from sherlog_parser_spark.plans.parse import parse_stage
from sherlog_parser_spark.plans.route import route_plan


@pytest.fixture(scope="module")
def split_corpus(spark, transcripts):
    parsed = parse_stage(transcripts).cache()
    # freeze a dictionary from HALF the conversations: the other half
    # contains signatures the frozen dictionary has never seen
    known_half = parsed.filter(F.crc32(F.col("conv_id")) % 2 == 0)
    tdict = build_template_dictionary(known_half)
    return parsed, tdict


def test_extraction_runs_once_per_unknown_sig(spark, split_corpus):
    parsed, tdict = split_corpus
    known_sigs = {r["sig"] for r in tdict.df.select("sig").collect()}
    all_sigs = {r["sig"] for r in parsed.select("sig").distinct().collect()}
    unknown = all_sigs - known_sigs
    extracted = extract_new_templates(parsed, tdict).cache()
    got = extracted.collect()
    # one output row per unknown signature — the P6 cache-once contract
    # holds by construction (distinct-sig frame feeds the extractor)
    assert {r["sig"] for r in got} == unknown
    assert len(got) == len(unknown)
    assert all(r["template"] for r in got)


def test_extended_dictionary_covers_full_corpus(spark, split_corpus):
    parsed, tdict = split_corpus
    extracted = extract_new_templates(parsed, tdict)
    full = extend_dictionary(tdict, extracted)
    # ids already assigned by the frozen dictionary must not move
    frozen = {r["sig"]: r["template_id"] for r in tdict.df.collect()}
    after = {r["sig"]: r["template_id"] for r in full.df.collect()}
    assert all(after[s] == t for s, t in frozen.items())
    # routing with the extended dictionary resolves EVERY row
    routed = route_plan(parsed, full).frame
    assert routed.filter(F.col("template_id").isNull()).count() == 0
    assert routed.count() == parsed.count()


def test_extractor_output_merges_via_pool(spark):
    """An extracted template similar (>= 0.8) to an existing one must
    merge into the EXISTING template id — the reference re-checks LLM
    output against the pool instead of trusting it blindly."""
    rows = [(f"c{i}", i, "user", f"request served in {i} ms", None) for i in range(20)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.current_timestamp())
    parsed = parse_stage(df)
    tdict = build_template_dictionary(parsed)
    n_templates_before = len(tdict.templates)

    import pandas as pd

    def near_duplicate_extractor(batch: pd.DataFrame) -> pd.DataFrame:
        # emits a template nearly identical to the known one
        return pd.DataFrame(
            {"sig": batch["sig"], "template": ["request served in <OBA> ms"] * len(batch)}
        )

    novel = spark.createDataFrame(
        [("cx", 0, "user", "request serviced in 99 ms", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    new_parsed = parse_stage(novel)
    extracted = extract_new_templates(new_parsed, tdict, extractor=near_duplicate_extractor)
    full = extend_dictionary(tdict, extracted)
    # merged, not appended: template count unchanged, the new sig maps
    # to an existing id
    assert len(full.templates) == n_templates_before
    new_sig = new_parsed.select("sig").collect()[0]["sig"]
    mapped = {r["sig"]: r["template_id"] for r in full.df.collect()}[new_sig]
    assert mapped < n_templates_before


def test_default_extractor_is_heuristic_parity(spark, split_corpus):
    """The stand-in extractor must produce the same templates the
    heuristic pipeline would (the reference's LLM-unavailable fallback)."""
    parsed, tdict = split_corpus
    extracted = {
        r["sig"]: r["template"]
        for r in extract_new_templates(parsed, tdict, extractor=heuristic_extractor).collect()
    }
    expected = {
        r["sig"]: r["masked"]
        for r in parsed.select("sig", "masked").distinct().collect()
        if r["sig"] in extracted
    }
    assert extracted == expected


def test_extend_dictionary_does_not_mutate_frozen_input(spark, split_corpus):
    """r4 review: extend_dictionary must copy the pool — in-place adds
    aliased the frozen dictionary (dictionary_state(tdict) would drift
    from tdict.df) and made repeated extensions accumulate."""
    parsed, tdict = split_corpus
    before_templates = list(tdict.templates)
    before_mapping = dict(tdict.pool.mapping())
    extracted = extract_new_templates(parsed, tdict)
    full = extend_dictionary(tdict, extracted)
    assert list(tdict.templates) == before_templates
    assert dict(tdict.pool.mapping()) == before_mapping
    assert len(full.pool.mapping()) > len(before_mapping)
    # counts are honestly dropped (frozen counts say nothing about rows
    # of the new sigs — stale reuse hid Zipf heads from hot ids)
    assert full.counts is None
