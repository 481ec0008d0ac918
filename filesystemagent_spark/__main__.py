"""Command-line surface — the engine-side equivalent of the
reference's `main.py` click CLI (/root/reference/src/cli.py:27-409).

Each subcommand is a thin adapter: parse args → build the DataFrame
plan with the same operators the library exposes → one action
(show/write). No logic lives here that a library caller couldn't
reach; the CLI exists so a reference user's muscle memory
(`audit scan`, index, dedup report, migrate) keeps working.

    python -m filesystemagent_spark audit-scan DUMPS_DIR [--report out.html]
    python -m filesystemagent_spark index DIR --out catalog.parquet
    python -m filesystemagent_spark find-duplicates --catalog catalog.parquet
    python -m filesystemagent_spark convert src.csv dest.json
    python -m filesystemagent_spark migrate SRC DEST --conflict rename --execute
    python -m filesystemagent_spark query events_hourly --sf-dir /root/testdata/sf0.01
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F

from filesystemagent_spark.caching import track_persist, tracked_scope


def _spark(app: str):
    from filesystemagent_spark.session import get_spark

    return get_spark(f"fsa-{app}")


def cmd_audit_scan(args: argparse.Namespace) -> int:
    """`main.py audit scan` (cli.py:162-239): normalize every available
    tool dump, print the severity rollup + ranked findings, optionally
    write the findings table and an HTML report."""
    from filesystemagent_spark.operators.relational import rank_by_map
    from filesystemagent_spark.plans.pipeline import run_audit_pipeline
    from filesystemagent_spark.plans.reporting import html_report
    from filesystemagent_spark.schemas import SEVERITY_RANK

    spark = _spark("audit-scan")
    res = run_audit_pipeline(spark, args.dumps_dir)
    findings = res.findings
    if args.severity:
        findings = findings.filter(F.col("severity") == args.severity)
    if args.domain:
        findings = findings.filter(F.col("domain") == args.domain)

    print(f"sources run: {res.sources_run}")
    print(f"sources skipped: {res.sources_skipped}")
    if res.sources_failed:
        print(f"sources FAILED: {res.sources_failed}")

    rollup = rank_by_map(
        findings.groupBy("severity").agg(F.count("*").alias("n")),
        "severity",
        SEVERITY_RANK,
        rank_col="rnk",
    ).orderBy("rnk")
    rollup.select("severity", "n").show(truncate=False)

    ranked = rank_by_map(findings, "severity", SEVERITY_RANK, rank_col="rnk").orderBy(
        "rnk", "title"
    )
    ranked.select("severity", "title", "target").show(args.limit, truncate=80)

    if args.out:
        findings.write.mode("overwrite").parquet(args.out)
        print(f"findings written to {args.out}")
    if args.report:
        with open(args.report, "w") as f:
            f.write(html_report(findings, title=f"Audit scan: {args.dumps_dir}"))
        print(f"report written to {args.report}")
    return 2 if res.sources_failed else 0


def cmd_index(args: argparse.Namespace) -> int:
    """Index a directory into the files catalog
    (file_indexing_system.index_directory)."""
    from filesystemagent_spark.sources.listing import files_catalog

    spark = _spark("index")
    cat = files_catalog(spark, args.directory, hash_algorithm=args.algorithm)
    cat.write.mode("overwrite").parquet(args.out)
    back = spark.read.parquet(args.out)
    totals = back.agg(
        F.count("*").alias("files"), F.sum("file_size").alias("bytes")
    ).collect()[0]
    print(f"indexed {totals['files']} files, {totals['bytes']} bytes -> {args.out}")
    return 0


def cmd_find_duplicates(args: argparse.Namespace) -> int:
    """The A1 dedup query over a written catalog
    (file_indexing_system.find_duplicates)."""
    from filesystemagent_spark.operators.dedup import duplicate_groups

    spark = _spark("find-duplicates")
    cat = spark.read.parquet(args.catalog).filter(
        F.col("file_hash").isNotNull()
        & ~F.col("is_directory")
        & (F.col("file_size") >= args.min_size)
    )
    with tracked_scope():
        dups = track_persist(
            duplicate_groups(
                cat, ["file_hash", "hash_algorithm", "file_size"], "file_path"
            ).orderBy(F.col("file_size").desc(), "file_hash")
        )
        dups.show(args.limit, truncate=80)
        print(f"{dups.count()} duplicate group(s)")
        if args.out:
            dups.write.mode("overwrite").json(args.out)
    return 0


def cmd_convert(args: argparse.Namespace) -> int:
    """ETL format conversion by suffix dispatch (etl.py:29-55)."""
    from filesystemagent_spark.sources.etl_io import convert

    spark = _spark("convert")
    convert(spark, args.src, args.dest)
    print(f"converted {args.src} -> {args.dest}")
    return 0


def cmd_migrate(args: argparse.Namespace) -> int:
    """Migration template: PLAN by default (the dry run), EXECUTE with
    --execute, independent hash audit with --verify."""
    from filesystemagent_spark.plans import migration as M
    from filesystemagent_spark.sources.listing import list_files

    spark = _spark("migrate")
    import os

    existing = list_files(spark, args.dest) if os.path.isdir(args.dest) else None
    plan = M.plan_migration(
        list_files(spark, args.src),
        args.dest,
        source_root=args.src,
        preserve_structure=not args.no_preserve_structure,
        operation=args.operation,
        conflict=args.conflict,
        existing=existing,
    )
    with tracked_scope():
        plan = track_persist(plan)  # show + count + execute share one compute
        if not args.execute:
            plan.orderBy("src").show(args.limit, truncate=60)
            print(f"dry run: {plan.count()} planned action(s); pass --execute to run")
            return 0
        rep = M.migration_report(M.execute_migration(plan)).collect()[0]
        print(rep.asDict())
        rc = 1 if rep.failed_files else 0
        if args.verify:
            n_copies = plan.filter(F.col("action") == "copy").count()
            if n_copies == 0:
                print("verify: nothing auditable (no copy actions — moves "
                      "leave no source to re-hash; audit against the "
                      "pre-run catalog instead)")
            else:
                bad = M.verify_migration(spark, plan, args.src, args.dest)
                n_bad = bad.count()
                if n_bad:
                    bad.show(truncate=80)
                    print(f"VERIFY FAILED: {n_bad} mismatched file(s)")
                    rc = 1
                else:
                    print(f"verify: all {n_copies} copies hash-match")
        return rc


def cmd_query(args: argparse.Namespace) -> int:
    """Run any registered engine query by name."""
    from filesystemagent_spark.queries import registry

    reg = registry()
    if args.name not in reg:
        print(f"unknown query {args.name!r}; available: {', '.join(reg)}")
        return 2
    spark = _spark("query")
    df = reg[args.name].fn(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.limit, truncate=60)
    return 0


def cmd_table(args: argparse.Namespace) -> int:
    """Transactional-table maintenance: history / show / restore /
    compact / vacuum over a TxTable path (sources/txtable.py)."""
    import json
    import time as _time

    from filesystemagent_spark.sources.txtable import CommitConflict, TxTable

    t = TxTable(args.path)
    head = t.latest_version()
    if head == 0:
        print(f"no committed snapshot at {args.path}")
        return 2
    if args.restore is not None:
        try:
            # manifest-only operation — no session needed
            v = t.restore(args.restore)
        except FileNotFoundError:
            print(f"version {args.restore} does not exist or has expired")
            return 2
        except (ValueError, CommitConflict) as e:
            print(f"restore failed: {e}")
            return 2
        print(f"restored v{args.restore} as v{v}")
        return 0
    if args.compact:
        spark = _spark("table")
        try:
            v = t.compact(
                spark,
                target_files=args.target_files,
                small_file_bytes=args.small_file_bytes,
            )
        except (ValueError, CommitConflict) as e:
            print(f"compact failed: {e}")
            return 2
        if args.small_file_bytes is not None:
            info = t.last_compact_info
            if info.get("noop"):
                print(
                    f"no-op (already packed): v{v} unchanged, "
                    f"{info['carried']} files carried"
                )
            else:
                print(
                    f"bin-packed into v{v}: rewrote {info['rewritten']} small "
                    f"files, carried {info['carried']} "
                    f"({info['segments_reused']} segments unopened)"
                )
        else:
            print(f"compacted into v{v}")
        return 0
    if args.vacuum:
        removed = t.vacuum(grace_seconds=args.grace)
        print(f"vacuumed {len(removed)} orphaned paths")
        return 0
    if args.materialize_tombstones:
        info = t.tombstone_info()
        if (
            info["depth"] <= args.max_tombstone_depth
            and info["covered_frac"] <= args.max_covered_frac
        ):
            print(
                f"no-op: depth {info['depth']} <= {args.max_tombstone_depth} "
                f"and covered {info['covered_frac']:.0%} <= "
                f"{args.max_covered_frac:.0%} (read cost acceptable, "
                "SCALE.md measurement)"
            )
            return 0
        spark = _spark("table")
        try:
            v = t.materialize_tombstones(spark)
        except (ValueError, CommitConflict) as e:
            print(f"materialize failed: {e}")
            return 2
        print(
            f"materialized {info['depth']} tombstones "
            f"({info['covered_files']} covered files) into v{v}"
        )
        return 0
    if args.show:
        spark = _spark("table")
        v = head if args.version is None else args.version
        try:
            t.read(spark, version=v).show(args.limit, truncate=60)
        except FileNotFoundError:
            print(f"version {v} does not exist or has expired")
            return 2
        except ValueError as e:
            print(f"show failed: {e}")
            return 2
        return 0
    # default: history
    for v in range(1, head + 1):
        try:
            m = t._read_manifest(v)
        except FileNotFoundError:
            print(f"v{v:<4} (expired)")
            continue
        ts = _time.strftime(
            "%Y-%m-%d %H:%M:%S", _time.gmtime(m["committed_at"])
        )
        n = t._manifest_n_files(m)
        app = m.get("app") or {}
        kind = ("restore" if "restored_from" in app
                else "compact" if "compacted_from" in app
                else "delete" if ("deleted_where" in app or "deleted_keys" in app)
                else "update" if "updated_where" in app
                else "stamp" if "app_only" in app
                else "write")
        feed = "+feed" if m.get("changes") else ""
        extra = f" app={json.dumps(app)}" if app else ""
        nrows = t._row_count_of(m)  # m is already loaded — no re-read
        rows = f" rows={nrows}" if nrows is not None else ""
        print(f"v{v:<4} {ts}  {kind:<7}{feed:<5} files={n}{rows}{extra}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="filesystemagent_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("audit-scan", help="normalize tool dumps into findings")
    s.add_argument("dumps_dir")
    s.add_argument("--severity")
    s.add_argument("--domain")
    s.add_argument("--limit", type=int, default=20)
    s.add_argument("--out", help="write findings parquet here")
    s.add_argument("--report", help="write HTML report here")
    s.set_defaults(fn=cmd_audit_scan)

    s = sub.add_parser("index", help="build the files catalog for a directory")
    s.add_argument("directory")
    s.add_argument("--out", required=True)
    s.add_argument("--algorithm", default="sha256")
    s.set_defaults(fn=cmd_index)

    s = sub.add_parser("find-duplicates", help="exact-duplicate groups from a catalog")
    s.add_argument("--catalog", required=True)
    s.add_argument("--min-size", type=int, default=1)
    s.add_argument("--limit", type=int, default=20)
    s.add_argument("--out")
    s.set_defaults(fn=cmd_find_duplicates)

    s = sub.add_parser("convert", help="convert between csv/json/xml/parquet/excel")
    s.add_argument("src")
    s.add_argument("dest")
    s.set_defaults(fn=cmd_convert)

    s = sub.add_parser("migrate", help="plan/execute/verify a file migration")
    s.add_argument("src")
    s.add_argument("dest")
    s.add_argument("--operation", default="copy",
                   choices=["copy", "move", "link", "symlink"])
    s.add_argument("--conflict", default="skip",
                   choices=["skip", "overwrite", "rename", "backup", "fail"])
    s.add_argument("--no-preserve-structure", action="store_true")
    s.add_argument("--execute", action="store_true")
    s.add_argument("--verify", action="store_true")
    s.add_argument("--limit", type=int, default=50)
    s.set_defaults(fn=cmd_migrate)

    s = sub.add_parser("table", help="TxTable maintenance: history/show/restore/compact/vacuum")
    s.add_argument("path")
    mode = s.add_mutually_exclusive_group()
    mode.add_argument("--show", action="store_true", help="print the snapshot")
    mode.add_argument("--restore", type=int, metavar="V", help="publish V's content as a new version")
    mode.add_argument("--compact", action="store_true")
    mode.add_argument("--vacuum", action="store_true")
    mode.add_argument(
        "--materialize-tombstones", action="store_true",
        help="rewrite ONLY MoR-tombstone-covered files (policy-gated: "
        "no-op below the depth/coverage thresholds)",
    )
    s.add_argument("--version", type=int, help="with --show: time-travel version")
    s.add_argument("--target-files", type=int, default=8)
    s.add_argument(
        "--small-file-bytes", type=int, default=None,
        help="bin-pack: rewrite only files smaller than this, carry the rest",
    )
    s.add_argument("--grace", type=float, default=3600.0,
                   help="vacuum grace window seconds (racing-writer guard)")
    s.add_argument(
        "--max-tombstone-depth", type=int, default=4,
        help="with --materialize-tombstones: rewrite when more than "
        "this many tombstones are stacked (SCALE.md measurement)",
    )
    s.add_argument(
        "--max-covered-frac", type=float, default=0.5,
        help="with --materialize-tombstones: rewrite when covered "
        "files exceed this fraction of the snapshot",
    )
    s.add_argument("--limit", type=int, default=20)
    s.set_defaults(fn=cmd_table)

    s = sub.add_parser("query", help="run a registered query by name")
    s.add_argument("name")
    s.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    s.add_argument("--limit", type=int, default=20)
    s.add_argument("--explain", action="store_true")
    s.set_defaults(fn=cmd_query)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
