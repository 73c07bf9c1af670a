"""Sources S1-S3 / sinks K3-K4, P16 pattern parse, X3 DBSCAN."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from sherlog_parser_spark.operators.anomaly import dbscan_numpy, windowed_embedding_anomalies
from sherlog_parser_spark.operators.pattern_parse import ClusterPattern, pattern_parse
from sherlog_parser_spark.sources.readers import (
    grok_parse,
    read_log_file,
    read_structured_dataset,
    write_results_csv,
    write_template_file,
)


def test_read_log_file_csv_with_content(spark, tmp_path):
    p = tmp_path / "a.csv"
    p.write_text("content,level\nhello world,INFO\nsecond line,WARN\n")
    df = read_log_file(spark, str(p))
    assert df.columns == ["content"]
    assert {r["content"] for r in df.collect()} == {"hello world", "second line"}


def test_read_log_file_csv_first_column_fallback(spark, tmp_path):
    p = tmp_path / "b.csv"
    p.write_text("message,level\nalpha,INFO\nbeta,WARN\n")
    df = read_log_file(spark, str(p))
    assert df.columns == ["content"]
    assert {r["content"] for r in df.collect()} == {"alpha", "beta"}


def test_read_log_file_plain_text(spark, tmp_path):
    p = tmp_path / "c.log"
    p.write_text("2024-01-01 INFO scheduler 42 task started\nplain line two  \n")
    df = read_log_file(spark, str(p))
    rows = [r["content"] for r in df.collect()]
    assert "plain line two" in rows  # trimmed


def test_grok_parse(spark, tmp_path):
    p = tmp_path / "d.log"
    p.write_text("2024-01-01T10:00:00 INFO scheduler 42 task 0xff started\n")
    df = grok_parse(read_log_file(spark, str(p)))
    r = df.collect()[0]
    assert (r["Timestamp"], r["Level"], r["Component"], r["PID"]) == (
        "2024-01-01T10:00:00", "INFO", "scheduler", "42",
    )
    assert r["Content"] == "task 0xff started"


def test_structured_dataset_roundtrip(spark, tmp_path):
    p = tmp_path / "s.csv"
    p.write_text("LineId,Content,EventId,EventTemplate\n1,User admin,E1,User <*>\n")
    df = read_structured_dataset(spark, str(p))
    r = df.collect()[0]
    assert (r["LineId"], r["EventId"]) == (1, "E1")


def test_results_and_template_sinks(spark, transcripts, tmp_path):
    from sherlog_parser_spark.plans.dictionary import build_template_dictionary
    from sherlog_parser_spark.plans.parse import parse_stage
    from sherlog_parser_spark.plans.route import route_plan

    parsed = parse_stage(transcripts.limit(500))
    td = build_template_dictionary(parsed)
    plan = route_plan(parsed, td)
    enriched = plan.attach(plan.frame)
    out = str(tmp_path / "results")
    write_results_csv(enriched.select("template_id", "template", "text"), out)
    assert os.path.exists(os.path.join(out, "report.md"))
    report = open(os.path.join(out, "report.md")).read()
    assert "Top templates" in report
    tf = str(tmp_path / "templates_out")
    write_template_file(td.df.select("template_id", "template").distinct(), tf)
    got = spark.read.option("header", True).csv(tf).collect()
    assert any(r["EventId"] == "E1" for r in got)


def test_pattern_parse_first_match_wins(spark):
    df = spark.createDataFrame(
        [("User admin logged in from 192.168.1.1",), ("Connection lost to db01",), ("noise",)],
        "text string",
    )
    patterns = [
        ClusterPattern(0, r"User (?P<user>\S+) logged in from (?P<ip>\S+)"),
        ClusterPattern(1, r"User (?P<user>\S+) .*"),  # would also match row 1
        ClusterPattern(2, r"Connection lost to (?P<host>\S+)"),
    ]
    out = {r["text"]: r for r in pattern_parse(df, patterns).collect()}
    r0 = out["User admin logged in from 192.168.1.1"]
    assert r0["cluster_id"] == 0  # priority order, not pattern 1
    assert dict(r0["parsed_fields"]) == {"user": "admin", "ip": "192.168.1.1"}
    r1 = out["Connection lost to db01"]
    assert r1["cluster_id"] == 2 and dict(r1["parsed_fields"]) == {"host": "db01"}
    assert out["noise"]["cluster_id"] is None


def test_dbscan_numpy_basic():
    rng = np.random.default_rng(42)
    a = rng.normal(0, 0.01, (20, 4)) + np.array([1, 0, 0, 0])
    b = rng.normal(0, 0.01, (20, 4)) + np.array([0, 1, 0, 0])
    outlier = np.array([[0.5, 0.5, 0.7, 0.1]])
    labels = dbscan_numpy(np.vstack([a, b, outlier]), eps=0.05, min_samples=4)
    assert labels[40] == -1
    assert len(set(labels[:20])) == 1 and len(set(labels[20:40])) == 1
    assert labels[0] != labels[20]


def test_windowed_embedding_anomalies(spark):
    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        v = (rng.normal(0, 0.01, 8) + np.eye(8)[i % 2]).tolist()
        rows.append((i, v))
    rows.append((99, (np.ones(8) / np.sqrt(8)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = windowed_embedding_anomalies(df, eps=0.2, min_samples=4, small_cluster_min=3)
    flagged = {r["vec_id"] for r in out.filter(F.col("is_embedding_anomaly")).collect()}
    assert flagged == {99}


def test_pattern_parse_ranked_cosine_beats_priority(spark):
    """P16 ranking (reference parser.py:100-111): when two patterns both
    match, the one whose cluster center is cosine-closest to the ROW's
    embedding must win — even though plain priority order picks the other."""
    from sherlog_parser_spark.operators.pattern_parse import pattern_parse_ranked

    # axis-aligned centers; both patterns match every "User ..." text
    patterns = [
        ClusterPattern(0, r"User (?P<user>\S+) logged in.*", center=[1.0, 0.0, 0.0]),
        ClusterPattern(1, r"User (?P<u2>\S+) .*", center=[0.0, 1.0, 0.0]),
        ClusterPattern(2, r"Connection lost to (?P<host>\S+)", center=[0.0, 0.0, 1.0]),
    ]
    rows = [
        ("User alice logged in from 1.2.3.4", [0.9, 0.1, 0.0]),   # nearest c0
        ("User bob logged in from 5.6.7.8", [0.1, 0.9, 0.0]),     # nearest c1
        ("Connection lost to db01", [0.0, 0.1, 0.9]),             # only p2 matches
        ("no pattern matches this", [1.0, 0.0, 0.0]),
        ("User carol logged in from 9.9.9.9", None),              # null vec -> priority
    ]
    df = spark.createDataFrame(rows, "text string, embedding array<double>")
    got = {r["text"]: r for r in pattern_parse_ranked(df, patterns).collect()}

    assert got["User alice logged in from 1.2.3.4"]["cluster_id"] == 0
    assert got["User alice logged in from 1.2.3.4"]["parsed_fields"]["user"] == "alice"
    # ranking flips the winner for bob (priority order would pick 0)
    assert got["User bob logged in from 5.6.7.8"]["cluster_id"] == 1
    assert got["User bob logged in from 5.6.7.8"]["parsed_fields"]["u2"] == "bob"
    assert got["Connection lost to db01"]["cluster_id"] == 2
    assert got["no pattern matches this"]["cluster_id"] is None
    # null embedding falls back to priority-first semantics
    assert got["User carol logged in from 9.9.9.9"]["cluster_id"] == 0
    assert got["User carol logged in from 9.9.9.9"]["parsed_fields"]["user"] == "carol"
