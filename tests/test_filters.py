"""Operator-semantics tests for the predicate catalog (SURVEY.md §2.2)
— synthetic rows straddling every threshold, mirroring the reference's
analyzer unit-test style (SURVEY §5.3)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from filesystemagent_spark.operators import filters as P


def col_eval(spark, rows, schema, colfn, *cols):
    """Evaluate a Column predicate over literal rows, return list."""
    df = spark.createDataFrame(rows, schema)
    return [r["out"] for r in df.select(colfn(*[F.col(c) for c in cols]).alias("out")).collect()]


# ---------------------------------------------------------------------------
# glob_to_regex / matches_glob


@pytest.mark.parametrize(
    "pattern,s,expected",
    [
        ("*.txt", "notes.txt", True),
        ("*.txt", "notes.txt.bak", False),
        ("data_?.csv", "data_1.csv", True),
        ("data_?.csv", "data_12.csv", False),
        ("[abc]*.log", "b123.log", True),
        ("[!abc]*.log", "b123.log", False),
        ("/src/**/*.pdf", "/src/a/b/c.pdf", True),  # fnmatch: * crosses '/'
        ("report.[0-9]", "report.7", True),
        ("report.[0-9]", "report.x", False),
        ("literal+chars(1).txt", "literal+chars(1).txt", True),
    ],
)
def test_glob_to_regex(spark, pattern, s, expected):
    import fnmatch
    import re

    # our translation must agree with fnmatch (reference semantics)
    assert bool(re.match(P.glob_to_regex(pattern), s)) == fnmatch.fnmatch(s, pattern) == expected


def test_matches_glob_column(spark):
    rows = [("a.txt",), ("b.pdf",), (".hidden",)]
    got = col_eval(spark, rows, "name: string", lambda c: P.matches_glob(c, "*.txt", "*.pdf"), "name")
    assert got == [True, True, False]


# ---------------------------------------------------------------------------
# FileFilter compile — 8-clause conjunction (P1)


def test_file_filter(spark):
    now = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    day = 86400
    rows = [
        # path, name, size, modified(days ago), is_dir, expect_kept
        ("/d/keep.txt", "keep.txt", 5_000, 10, False, True),
        ("/d/.dotfile", ".dotfile", 5_000, 10, False, False),      # hidden
        ("/d/tiny.txt", "tiny.txt", 10, 10, False, False),         # < min_size
        ("/d/huge.txt", "huge.txt", 10**9, 10, False, False),      # > max_size
        ("/d/new.txt", "new.txt", 5_000, 0, False, False),         # too young
        ("/d/old.txt", "old.txt", 5_000, 400, False, False),       # too old
        ("/d/wrong.exe", "wrong.exe", 5_000, 10, False, False),    # ext not allowed
        ("/d/skip_me.txt", "skip_me.txt", 5_000, 10, False, False),  # exclude glob
        ("/d/$RECYCLE.BIN", "$RECYCLE.BIN", 0, 10, True, False),   # system dir
    ]
    df = spark.createDataFrame(
        [
            (p, n, s, now - dt.timedelta(days=age), d)
            for p, n, s, age, d, _ in rows
        ],
        "file_path string, file_name string, file_size long, modified_time timestamp, is_directory boolean",
    )
    ff = P.FileFilter(
        min_size=1024,
        max_size=100 * 1024 * 1024,
        min_age_seconds=1 * day,
        max_age_seconds=365 * day,
        file_extensions=("txt", "csv"),
        exclude_patterns=("skip_*",),
    )
    kept = {r["file_name"] for r in df.filter(ff.compile(F.lit(now))).collect()}
    assert kept == {n for _, n, _, _, _, keep in rows if keep}


# ---------------------------------------------------------------------------
# signature / VT


def test_verification_predicates(spark):
    rows = [("(Not Verified) Contoso",), ("Verified",), ("Unsigned",), (None,)]
    nv = col_eval(spark, rows, "v: string", P.is_not_verified, "v")
    us = col_eval(spark, rows, "v: string", P.is_unsigned, "v")
    assert nv == [True, False, False, None]
    assert us == [False, False, True, None]


def test_is_elevated_task(spark):
    """P16: a task is elevated when it runs at the Highest level and is
    not Disabled; SQL three-valued logic decides the NULL rows."""
    rows = [
        ("Highest", "Ready"),
        ("Highest", "Disabled"),
        ("Limited", "Ready"),
        ("Limited", "Disabled"),
        (None, "Ready"),
        ("Highest", None),
        ("Limited", None),
        (None, None),
    ]
    got = col_eval(
        spark, rows, "lvl string, st string", P.is_elevated_task, "lvl", "st"
    )
    assert got == [True, False, False, False, None, None, False, None]


def test_vt_positive(spark):
    rows = [("5|72",), ("0|70",), ("0|0",), ("",), ("Unknown",), (None,), ("bad",)]
    got = col_eval(spark, rows, "vt: string", P.vt_positive, "vt")
    assert got == [True, False, False, False, False, False, False]


# ---------------------------------------------------------------------------
# resource thresholds / stale / WMI dates


def test_resource_hog_category(spark):
    rows = [
        (2048.0, 100.0, 10, 100),   # high_ram
        (100.0, 7200.0, 10, 100),   # high_cpu
        (100.0, 100.0, 300, 100),   # high_threads
        (100.0, 100.0, 10, 9000),   # high_handles
        (100.0, 100.0, 10, 100),    # none → null
    ]
    got = col_eval(
        spark, rows, "ram double, cpu double, th int, ha int",
        P.resource_hog_category, "ram", "cpu", "th", "ha",
    )
    assert got == ["high_ram", "high_cpu", "high_threads", "high_handles", None]


def test_parse_wmi_date(spark):
    rows = [("/Date(1736900000000)/",), ("not a date",), (None,)]
    got = col_eval(spark, rows, "d: string", P.parse_wmi_date, "d")
    assert got[0] == dt.datetime.fromtimestamp(1736900000, dt.timezone.utc).replace(tzinfo=None)
    assert got[1] is None and got[2] is None


def test_is_stale_process(spark):
    now = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    ms = lambda days: int((now - dt.timedelta(days=days)).timestamp() * 1000)
    rows = [
        (100, "my_app.exe", f"/Date({ms(10)})/"),    # stale (>7d)
        (101, "my_app.exe", f"/Date({ms(1)})/"),     # young
        (102, "svchost.exe", f"/Date({ms(100)})/"),  # allowlisted
        (4, "my_app.exe", f"/Date({ms(100)})/"),     # system pid
        (103, "my_app.exe", None),                    # unparseable → skip
    ]
    df = spark.createDataFrame(rows, "pid int, name string, created string")
    got = [
        r["out"]
        for r in df.select(
            P.is_stale_process(F.col("name"), F.col("pid"), F.col("created"), F.lit(now)).alias("out")
        ).collect()
    ]
    assert got == [True, False, False, False, False]


# ---------------------------------------------------------------------------
# service / task / run-key paths


def test_has_unquoted_path(spark):
    rows = [
        (r"C:\Program Files\My App\svc.exe -arg",),   # vulnerable
        (r'"C:\Program Files\My App\svc.exe" -arg',), # quoted → fine
        (r"C:\Windows\svc.exe -arg",),                # no spaces → fine
        (r"C:\App Files\x.exe /install",),            # ' /' arg split
        ("",),
        (None,),
    ]
    got = col_eval(spark, rows, "p: string", P.has_unquoted_path, "p")
    # null → False, matching the reference's `if not path: return False`
    assert got == [True, False, False, True, False, False]


def test_path_location_predicates(spark):
    rows = [
        (r"C:\Windows\System32\svchost.exe",),
        (r"C:\Program Files (x86)\V\v.exe",),
        (r"c:/programdata/x.exe",),     # forward slashes normalize
        (r"C:\Temp\evil.exe",),
        (r"C:\Users\u\AppData\app.exe",),
    ]
    std = col_eval(spark, rows, "p: string", P.is_standard_path, "p")
    assert std == [True, True, True, False, False]
    runkey = col_eval(spark, rows, "p: string", P.is_suspicious_run_key_path, "p")
    assert runkey == [False, False, False, True, False]  # Users\ accepted

    tasks = [("powershell.exe -File x.ps1",), ("%SystemRoot%\\system32\\t.exe",), (r"C:\Temp\t.exe",)]
    sus = col_eval(spark, tasks, "p: string", P.is_suspicious_task_path, "p")
    assert sus == [False, False, True]


def test_is_system_account(spark):
    rows = [("LocalSystem",), ("NT AUTHORITY\\SYSTEM",), ("NT AUTHORITY\\LocalService",), ("DOMAIN\\bob",)]
    got = col_eval(spark, rows, "a: string", P.is_system_account, "a")
    assert got == [True, True, False, False]


def test_extract_exe_path(spark):
    rows = [
        (r'"C:\Program Files\App\app.exe" --flag',),
        (r"C:\Windows\system32\app.exe -x",),
        (r"C:\bare.exe",),
    ]
    got = col_eval(spark, rows, "v: string", P.extract_exe_path, "v")
    assert got == [r"C:\Program Files\App\app.exe", r"C:\Windows\system32\app.exe", r"C:\bare.exe"]


# ---------------------------------------------------------------------------
# network classifiers


def test_is_external_address(spark):
    rows = [
        ("8.8.8.8", True),
        ("10.1.2.3", False),
        ("172.16.0.1", False),
        ("172.32.0.1", True),      # past the /12
        ("192.168.1.1", False),
        ("169.254.0.5", False),
        ("127.0.0.1", False),
        ("0.0.0.0", False),
        ("2607:f8b0::1", True),
        ("::1", False),
        ("fe80::1", False),
        ("fd12::1", False),
        ("", False),
        (None, False),
        ("300.1.2", False),        # malformed
    ]
    got = col_eval(spark, [(a,) for a, _ in rows], "a: string", P.is_external_address, "a")
    assert got == [e for _, e in rows]


def test_suspicious_listener(spark):
    rows = [
        ("0.0.0.0", 4444, True),
        ("0.0.0.0", 443, False),    # common port
        ("0.0.0.0", 500, False),    # below 1024
        ("127.0.0.1", 4444, False), # not wildcard
        ("::", 9999, True),
    ]
    df = spark.createDataFrame(rows, "a string, p int, e boolean")
    got = [
        r["out"]
        for r in df.select(P.is_suspicious_listener(F.col("a"), F.col("p")).alias("out")).collect()
    ]
    assert got == [e for _, _, e in rows]


def test_search_predicate(spark):
    df = spark.createDataFrame(
        [("/a/report.pdf", "report.pdf", "abc123", 10), ("/b/data.csv", "data.csv", "def456", 20)],
        "file_path string, file_name string, file_hash string, file_size long",
    )
    assert df.filter(P.search_predicate("report", "name")).count() == 1
    assert df.filter(P.search_predicate("/b/", "path")).count() == 1
    assert df.filter(P.search_predicate("def456", "hash")).count() == 1
    assert df.filter(P.search_predicate("20", "size")).count() == 1
    with pytest.raises(ValueError):
        P.search_predicate("x", "nope")
