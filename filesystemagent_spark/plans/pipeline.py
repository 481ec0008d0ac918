"""The audit pipeline as a DataFrame composition (SURVEY.md §3.1).

The reference's top entry point (`python main.py audit scan`) runs
collectors → scanners → analyzers sequentially over a mutable context
dict (/root/reference/src/audit/pipeline.py:124-316). Here the same
pipeline is a declarative composition: each source normalizer yields
a findings DataFrame, `unionByName` builds the fact table, analyzers
are queries over it, and Spark parallelizes every independent branch
— the reference's sequential-stage barrier (pipeline.py:130-133) has
no equivalent because only true data dependencies serialize.

Missing tool outputs are skipped like the reference's tool-check
(scanner_base.py:92-100): absence is a normal condition, not an
error. stop_on_failure mirrors pipeline.py:208-213 for genuinely
broken inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from filesystemagent_spark.handles import HANDLES, file_stamp
from filesystemagent_spark.sources import normalizers as N

# tool name → (normalizer, expected filename in the dump directory)
DEFAULT_SOURCES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {
    "hayabusa": (N.hayabusa_findings, "hayabusa_timeline.csv"),
    "clamscan": (N.clamscan_findings, "clamscan_scan.log"),
    "sigcheck": (N.sigcheck_findings, "sigcheck_scan.csv"),
    "autorunsc": (N.autorunsc_findings, "autorunsc_scan.csv"),
    "chainsaw": (N.chainsaw_findings, "chainsaw_detections.json"),
    "hollows_hunter": (N.hollows_hunter_findings, "hollows_hunter_report.json"),
    "yara": (N.yara_findings, "yara_matches.json"),
    "listdlls": (N.listdlls_findings, "listdlls_dump.txt"),
}


@dataclass
class PipelineResult:
    findings: DataFrame
    sources_run: list[str] = field(default_factory=list)
    sources_skipped: list[str] = field(default_factory=list)
    sources_failed: dict[str, str] = field(default_factory=dict)


def run_audit_pipeline(
    spark: SparkSession,
    dumps_dir: str,
    *,
    sources: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]]
    | None = None,
    stop_on_failure: bool = False,
) -> PipelineResult:
    """Normalize every available tool dump under `dumps_dir` into the
    unioned findings fact table. Returns the (lazy) findings frame plus
    which sources ran/skipped/failed — the engine-side equivalent of
    the reference's PipelineResult (audit/models.py:249-288).

    The result is a plan, not data: callers chain analyzers/rollups
    (findings_severity_rollup, rank_by_map, plans.reporting) and Spark
    fuses the whole pipeline into one job at action time. Normalizer
    plans come from the session's plan-handle memo (handles.py), so a
    repeated run over unchanged dumps reuses them instead of rebuilding
    the eight (thousands of py4j round trips); a rewritten dump gets a
    fresh plan.
    """
    sources = DEFAULT_SOURCES if sources is None else sources
    frames: list[DataFrame] = []
    result = PipelineResult(findings=None)  # type: ignore[arg-type]
    for tool, (fn, filename) in sources.items():
        path = os.path.join(dumps_dir, filename)
        stamp = file_stamp(path)
        if stamp is None:
            result.sources_skipped.append(tool)
            continue
        try:
            frames.append(HANDLES.get(spark, fn, path, stamp=stamp))
            result.sources_run.append(tool)
        except Exception as e:  # noqa: BLE001 — tool-level isolation
            result.sources_failed[tool] = str(e)
            if stop_on_failure:
                raise
    if frames:
        result.findings = N.union_findings(*frames)
    else:
        from filesystemagent_spark.schemas import FINDING, empty_frame

        result.findings = empty_frame(spark, FINDING)
    return result
