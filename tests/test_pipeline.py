"""End-to-end audit pipeline over the golden fixtures: all eight
tool sources normalize, union, aggregate, and render — the engine
equivalent of the reference's `audit scan` entry (SURVEY.md §3.1)."""

from __future__ import annotations

import os

import pytest

from filesystemagent_spark.plans.pipeline import run_audit_pipeline
from filesystemagent_spark.plans.reporting import html_report
from filesystemagent_spark.schemas import FINDING

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture(scope="module")
def result(spark):
    return run_audit_pipeline(spark, FIXTURES)


def test_all_sources_run(result):
    assert sorted(result.sources_run) == [
        "autorunsc",
        "chainsaw",
        "clamscan",
        "hayabusa",
        "hollows_hunter",
        "listdlls",
        "sigcheck",
        "yara",
    ]
    assert result.sources_skipped == []
    assert result.sources_failed == {}


def test_findings_shape_and_content(result):
    findings = result.findings
    assert findings.count() > 0
    # one fact table, every source represented
    tools = {r["tool_name"] for r in findings.select("tool_name").distinct().collect()}
    assert len(tools) == 8
    # severity values stay within the enum
    sevs = {r["severity"] for r in findings.select("severity").distinct().collect()}
    assert sevs <= {"critical", "high", "medium", "low", "info"}
    # finding ids are deterministic content hashes: unique per row here
    assert findings.select("finding_id").distinct().count() == findings.count()


def test_missing_sources_skipped(spark, tmp_path):
    res = run_audit_pipeline(spark, str(tmp_path))
    assert res.sources_run == []
    assert len(res.sources_skipped) == 8
    assert res.findings.count() == 0  # empty frame with the full schema
    assert "severity" in res.findings.columns
    assert res.findings.schema == FINDING  # nullability included
    plan = res.findings._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan  # no Python RDD behind it


def test_report_renders_from_pipeline(result):
    html = html_report(result.findings, title="Audit", top_n=10)
    assert html.startswith("<!DOCTYPE html>")
    assert "Audit" in html
