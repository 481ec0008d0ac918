"""File migration as a three-stage Spark plan: PLAN (declarative
conflict resolution) → EXECUTE (distributed I/O) → VERIFY (set-based
integrity audit).

The reference's migration template walks files one at a time, checking
`dest.exists()` and looping counters per conflict
(/root/reference/src/etl_template_base.py:221-298,
/root/reference/src/file_migration_template.py:117-228). That shape is
O(files) round-trips against live filesystem state — racy and
undistributable. Here conflict resolution is a JOIN against a listing
of the destination plus a window over the migration batch itself:

- the destination listing is scanned ONCE (same binaryFile/stat source
  as the catalog), not stat'ed per file;
- rename counters come from `max existing "_N" suffix per stem` +
  `row_number` within the batch — deterministic, collision-free, and
  computed wholly inside the shuffle, so the same plan at 100 TB is
  one join + one window, not a billion exists() probes;
- the plan itself is the dry run (file_migration_template.py:194-228):
  executing nothing returns exactly what WOULD happen.

EXECUTE is the one genuinely imperative stage: an Arrow-batched
mapInPandas doing copy/move/link + streamed hashing on the executors —
the reference's 4-worker thread pool generalized to the cluster.
Executors must share the filesystem (local mode, NFS, or a fuse-mounted
object store); on HDFS-style storage swap the shutil calls for the
Hadoop FS API behind the same plan schema.

VERIFY never trusts EXECUTE's self-reported hashes: it re-reads both
sides through the binaryFile source and anti-joins on hash mismatch —
the independent "verification query" SURVEY §4 calls for.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from filesystemagent_spark.schemas import empty_frame

CONFLICT_MODES = ("skip", "overwrite", "rename", "backup", "fail")
OPERATIONS = ("copy", "move", "link", "symlink")

PLAN_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType()),
        T.StructField("dest", T.StringType()),
        T.StructField("action", T.StringType()),  # copy|move|link|symlink|skip
        T.StructField("backup_path", T.StringType()),  # non-null for backup mode
        T.StructField("reason", T.StringType()),  # new|conflict-<mode>
    ]
)

STATUS_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType()),
        T.StructField("dest", T.StringType()),
        T.StructField("status", T.StringType()),  # done|skipped|failed
        T.StructField("n_bytes", T.LongType()),
        T.StructField("src_hash", T.StringType()),
        T.StructField("dest_hash", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def _strip_scheme(col):
    # binaryFile paths arrive as file:/... URIs; plans work on plain paths.
    return F.regexp_replace(col, "^file:", "")


def _split_ext(name):
    """(stem, ext-with-dot) matching pathlib semantics: the suffix is
    the last dot UNLESS the name starts with it (.bashrc has none)."""
    has_ext = name.rlike(r"^.+\.[^.]+$") & ~name.rlike(r"^\.[^.]*$")
    stem = F.when(has_ext, F.regexp_replace(name, r"\.[^.]+$", "")).otherwise(name)
    ext = F.when(has_ext, F.regexp_extract(name, r"(\.[^.]+)$", 1)).otherwise(F.lit(""))
    return stem, ext


def plan_migration(
    listing: DataFrame,
    dest_root: str,
    *,
    source_root: str | None = None,
    preserve_structure: bool = True,
    operation: str = "copy",
    conflict: str = "skip",
    existing: DataFrame | None = None,
    path_col: str = "path",
) -> DataFrame:
    """Build the migration plan. `listing` is the (already filtered)
    source listing; `existing` is a listing of the destination tree
    (None = empty destination). Returns PLAN_SCHEMA rows; nothing
    touches the filesystem — this IS the dry run.

    Conflict semantics follow the reference
    (etl_template_base.py:221-257): skip keeps the destination and
    drops the source; overwrite replaces; rename appends `_N`; backup
    moves the existing file to `<name><ext>.backup[.N]` then writes;
    fail raises on the first conflict.

    Where the reference's sequential exists()-loop semantics cannot be
    honored by a parallel engine, the plan makes a DETERMINISTIC call
    and records it in `reason`:
    - rename counters are allocated per *name family* (dir + stem with
      one trailing `_N` stripped + ext) strictly above every number
      consumed by existing files AND by incoming rows that keep their
      plain name — so a renamed row can never land on a name any other
      row (plain or renamed) claims;
    - in overwrite/backup mode, two sources flattening to one dest
      would race; the first source (ascending src path) proceeds and
      later claimants become `skip` rows with reason
      `conflict-intra-batch` — visible in the plan, never a silent
      last-writer-wins.
    """
    if conflict not in CONFLICT_MODES:
        raise ValueError(f"conflict must be one of {CONFLICT_MODES}, got {conflict!r}")
    if operation not in OPERATIONS:
        raise ValueError(f"operation must be one of {OPERATIONS}, got {operation!r}")

    src = _strip_scheme(F.col(path_col))
    if preserve_structure:
        if source_root is None:
            raise ValueError("preserve_structure requires source_root")
        root = source_root.rstrip("/")
        rel = F.regexp_replace(src, "^" + re_escape(root) + "/", "")
    else:
        rel = F.element_at(F.split(src, "/"), -1)
    plan = listing.select(
        src.alias("src"),
        F.concat(F.lit(dest_root.rstrip("/") + "/"), rel).alias("dest0"),
    )

    # Destination-side state, scanned once.
    if existing is not None:
        ex = existing.select(_strip_scheme(F.col(path_col)).alias("ex_path"))
    else:
        ex = empty_frame(listing.sparkSession, "ex_path string")
    taken = ex.select(F.col("ex_path").alias("dest0"), F.lit(True).alias("dest_exists"))

    def family_of(path_expr_name: str):
        """dir + stem-with-one-trailing-_N-stripped + ext, plus the
        number that name consumes in its family (plain name = 0)."""
        name = F.element_at(F.split(F.col(path_expr_name), "/"), -1)
        dir_ = F.expr(
            f"substring({path_expr_name}, 1, length({path_expr_name}) - "
            f"length(split({path_expr_name}, '/')[size(split({path_expr_name}, '/')) - 1]))"
        )
        stem, ext = _split_ext(name)
        n_str = F.regexp_extract(stem, r"_(\d+)$", 1)
        base_stem = F.when(n_str != "", F.regexp_replace(stem, r"_\d+$", "")).otherwise(stem)
        return (
            F.concat(dir_, base_stem, ext),
            F.when(n_str != "", n_str).otherwise(F.lit("0")).cast("long"),
            dir_,
            base_stem,
            ext,
        )

    ex_fam, ex_num, _, _, _ = family_of("ex_path")
    fam_existing = (
        ex.select(ex_fam.alias("family"), ex_num.alias("n"))
        .groupBy("family")
        .agg(F.max("n").alias("ex_max_n"))
    )

    w = Window.partitionBy("dest0").orderBy("src")
    fam, own_num, fam_dir, fam_stem, fam_ext = family_of("dest0")
    plan = (
        plan.join(taken, "dest0", "left")
        .withColumn("dup_rank", F.row_number().over(w) - 1)  # 0 = first claimant
        .withColumn(
            "is_conflict",
            F.coalesce(F.col("dest_exists"), F.lit(False)) | (F.col("dup_rank") > 0),
        )
        .withColumn("family", fam)
        .withColumn("own_num", own_num)
        .withColumn("fam_dir", fam_dir)
        .withColumn("fam_stem", fam_stem)
        .withColumn("fam_ext", fam_ext)
        .join(fam_existing, "family", "left")
    )

    # Rename allocation: keepers (unconflicted) hold their own number;
    # losers get max(all existing numbers, all kept numbers) + their
    # 1-based rank among the family's losers. Every assigned number
    # strictly exceeds every kept/existing one → collision-free.
    wf = Window.partitionBy("family")
    wfo = wf.orderBy("src").rowsBetween(Window.unboundedPreceding, 0)
    keeper = ~F.col("is_conflict")
    kept_max = F.max(F.when(keeper, F.col("own_num"))).over(wf)
    loser_rank = F.sum(F.when(~keeper, 1).otherwise(0)).over(wfo)
    max_base = F.greatest(
        F.coalesce(F.col("ex_max_n"), F.lit(0)),
        F.coalesce(kept_max, F.lit(0)),
    )
    renamed = F.concat(
        F.col("fam_dir"),
        F.col("fam_stem"),
        F.lit("_"),
        (max_base + loser_rank).cast("string"),
        F.col("fam_ext"),
    )

    if conflict == "fail":
        n_conflicts = plan.filter(F.col("is_conflict")).count()
        if n_conflicts:
            raise FileExistsError(f"{n_conflicts} destination conflicts (conflict='fail')")

    no_conflict = ~F.col("is_conflict")
    intra = F.col("dup_rank") > 0
    nulls = F.lit(None).cast("string")
    if conflict == "skip":
        action = F.when(no_conflict, operation).otherwise(F.lit("skip"))
        dest, backup = F.col("dest0"), nulls
        reason = F.when(no_conflict, F.lit("new")).otherwise(F.lit("conflict-skip"))
    elif conflict == "overwrite":
        action = F.when(intra, F.lit("skip")).otherwise(F.lit(operation))
        dest, backup = F.col("dest0"), nulls
        reason = (
            F.when(intra, F.lit("conflict-intra-batch"))
            .when(no_conflict, F.lit("new"))
            .otherwise(F.lit("conflict-overwrite"))
        )
    elif conflict == "rename":
        action = F.lit(operation)
        dest = F.when(no_conflict, F.col("dest0")).otherwise(renamed)
        backup = nulls
        reason = F.when(no_conflict, F.lit("new")).otherwise(F.lit("conflict-rename"))
    elif conflict == "backup":
        action = F.when(intra, F.lit("skip")).otherwise(F.lit(operation))
        dest = F.col("dest0")
        backup = F.when(
            ~intra & F.coalesce(F.col("dest_exists"), F.lit(False)),
            F.concat(F.col("dest0"), F.lit(".backup")),
        )
        reason = (
            F.when(intra, F.lit("conflict-intra-batch"))
            .when(no_conflict, F.lit("new"))
            .otherwise(F.lit("conflict-backup"))
        )
    else:  # fail — no conflicts survive the check above
        action, dest, backup = F.lit(operation), F.col("dest0"), nulls
        reason = F.lit("new")

    return plan.select(
        F.col("src"),
        dest.alias("dest"),
        action.alias("action"),
        backup.alias("backup_path"),
        reason.alias("reason"),
    )


def re_escape(s: str) -> str:
    import re

    return re.escape(s)


def execute_migration(
    plan: DataFrame,
    *,
    verify_integrity: bool = True,
    algorithm: str = "sha256",
    preserve_timestamps: bool = True,
) -> DataFrame:
    """Run the plan on the executors (Arrow-batched mapInPandas) and
    return STATUS_SCHEMA rows. Hashing streams in 1 MiB chunks (the
    reference's 8 KiB loop, file_indexing_system.py:100-118, sized for
    modern I/O); integrity failure of a single file marks that row
    failed without poisoning the batch — the reference's per-file
    try/except, kept per-row."""
    import hashlib
    import shutil

    import pandas as pd

    def _hash(path: str) -> str:
        h = hashlib.new(algorithm)
        with open(path, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        return h.hexdigest()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                if row.action == "skip":
                    out.append((row.src, row.dest, "skipped", 0, None, None, None))
                    continue
                try:
                    os.makedirs(os.path.dirname(row.dest), exist_ok=True)
                    if row.backup_path and os.path.exists(row.dest):
                        bak = row.backup_path
                        k = 0
                        while os.path.exists(bak):  # .backup.N if taken
                            k += 1
                            bak = f"{row.backup_path}.{k}"
                        shutil.move(row.dest, bak)
                    src_hash = (
                        _hash(row.src)
                        if verify_integrity and row.action in ("copy", "move")
                        else None
                    )
                    n = os.path.getsize(row.src)
                    if row.action == "copy":
                        shutil.copy2(row.src, row.dest) if preserve_timestamps else shutil.copyfile(row.src, row.dest)
                    elif row.action == "move":
                        shutil.move(row.src, row.dest)
                    else:
                        # link/symlink refuse existing dests. Clearing
                        # one is sanctioned ONLY when the plan saw the
                        # conflict and chose overwrite — for 'new' and
                        # renamed rows an occupied dest means the plan's
                        # view of the destination was stale, and the
                        # fail-safe is to let the OS error mark the row
                        # failed rather than destroy an unseen file.
                        if row.reason == "conflict-overwrite" and os.path.lexists(
                            row.dest
                        ):
                            os.remove(row.dest)
                        if row.action == "link":
                            os.link(row.src, row.dest)
                        else:
                            os.symlink(row.src, row.dest)
                    dest_hash = _hash(row.dest) if src_hash is not None else None
                    if src_hash is not None and src_hash != dest_hash:
                        out.append(
                            (row.src, row.dest, "failed", n, src_hash, dest_hash,
                             "integrity mismatch")
                        )
                        continue
                    out.append((row.src, row.dest, "done", n, src_hash, dest_hash, None))
                except OSError as e:
                    out.append((row.src, row.dest, "failed", 0, None, None, str(e)))
            yield pd.DataFrame(
                out, columns=[f.name for f in STATUS_SCHEMA.fields]
            )

    return plan.mapInPandas(run, STATUS_SCHEMA)


def migration_report(status: DataFrame) -> DataFrame:
    """A10 progress counters as one aggregate over the status table
    (file_migration_template.py:230-258): processed/succeeded/failed/
    skipped counts, bytes moved, success rate over attempted files."""
    attempted = F.count(F.when(F.col("status") != "skipped", 1))
    return status.agg(
        F.count("*").alias("processed_files"),
        F.count(F.when(F.col("status") == "done", 1)).alias("successful_files"),
        F.count(F.when(F.col("status") == "failed", 1)).alias("failed_files"),
        F.count(F.when(F.col("status") == "skipped", 1)).alias("skipped_files"),
        F.sum(F.when(F.col("status") == "done", F.col("n_bytes")).otherwise(0)).alias(
            "bytes_transferred"
        ),
        (F.count(F.when(F.col("status") == "done", 1)) / F.greatest(attempted, F.lit(1)))
        .alias("success_rate"),
    )


def verify_migration(
    spark: SparkSession, plan: DataFrame, source_root: str, dest_root: str
) -> DataFrame:
    """Independent integrity audit for copies: re-read BOTH trees
    through the distributed binaryFile scan, hash JVM-side
    (`sha2(content)`), and return plan rows whose destination is
    missing or whose hashes differ. Trusts nothing EXECUTE reported,
    and never collects paths to the driver — two scans and two joins,
    the pure 'verification query' of SURVEY §4. (Moves have no source
    left to re-read; audit those against the catalog snapshot taken
    before the run.)"""
    copies = plan.filter(F.col("action") == "copy").select("src", "dest")

    def tree(root: str, col: str) -> DataFrame:
        df = spark.read.format("binaryFile").option("recursiveFileLookup", True).load(root)
        return df.select(
            _strip_scheme(F.col("path")).alias(col),
            F.sha2(F.col("content"), 256).alias(f"{col}_hash"),
        )

    joined = (
        copies.join(tree(source_root, "src"), "src", "left")
        .join(tree(dest_root, "dest"), "dest", "left")
    )
    # A missing side is a FINDING, not a pass: a copy whose source
    # vanished before the audit is unverifiable and must be reported
    # (src_hash NULL would make != three-valued-NULL and vanish).
    return joined.filter(
        F.col("src_hash").isNull()
        | F.col("dest_hash").isNull()
        | (F.col("src_hash") != F.col("dest_hash"))
    ).select("src", "dest", "src_hash", "dest_hash")
