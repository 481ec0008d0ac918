"""Transactional snapshot tables: optimistic-concurrency commits over
plain parquet — the container-scale stand-in for Delta/Iceberg MERGE.

The reference's catalog store is a SQLite INSERT OR REPLACE
(/root/reference/src/file_indexing_system.py:168-198); the engine's
parquet substitute (`listing.merge_catalog` + overwrite) is
last-writer-wins at JOB granularity, which silently drops a concurrent
writer's upserts. This module restores lost-update safety with the
same protocol the real table formats use:

- A snapshot = an immutable manifest file `_manifests/v{N}.json`
  listing the data files visible at version N (plus the schema DDL so
  empty tables still read).
- Readers resolve the highest manifest ONCE and read exactly its file
  list — snapshot isolation: a concurrent commit cannot tear a scan,
  and any historical version stays readable (time travel).
- Writers never mutate data files. A commit writes new parquet under
  `data/`, then publishes manifest N+1 via an ATOMIC
  create-if-not-exists (`os.link` of a fully-written temp file — the
  filesystem's compare-and-swap). If another writer won version N+1,
  the link fails, and `merge_into` RETRIES against the new snapshot —
  so both writers' upserts survive, in commit order.

At 100 TB the protocol is unchanged; what upgrades is the CAS
primitive (object stores use put-if-absent / a log service instead of
link(2)).

MANIFEST SCALING: the pointer manifest does not inline every file +
its stats once a commit exceeds _INLINE_FILES_MAX files — it spills
them into immutable parquet STATS SEGMENTS and keeps only segment
descriptors (path, n_files, per-column envelope rollup), the
Iceberg manifest-list shape. Planning is two-level: predicates prune
whole segments on the envelopes, then per-file stats only inside
surviving segments — driver memory is O(matching files), and a commit
carries untouched segments as descriptors with no re-read/re-write.
At 10^5-10^6 files the pointer stays a few KB instead of a
multi-hundred-MB JSON parse per read.

The two fact-table-scale properties real formats add on top
of the protocol are BOTH here:

- FILE-GRANULAR MERGE: `merge_into` consults the manifest's per-file
  min/max stats and rewrites ONLY the files whose key ranges may
  contain an update key; every other file is carried into the new
  manifest verbatim (stats included — no footer re-read). A 10-row
  upsert against a 100 TB table stages kilobytes, not the table.
- DISJOINT-FILE CONFLICT REBASE: when the CAS loses, the loser checks
  the winner's manifest — if the winner left the loser's rewritten
  files alone and none of the winner's new files can contain the
  loser's keys (stats proof), the loser RE-PUBLISHES its already-
  staged files against the new head instead of recomputing the merge.
  Disjoint writers contend only on the manifest pointer, never on
  data work — Delta/Iceberg's conflict-resolution semantics.
"""

from __future__ import annotations

import bisect
import errno
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from filesystemagent_spark.handles import HANDLES, IMMUTABLE, StampedLRU, file_stamp
from filesystemagent_spark.schemas import ddl_schema, empty_frame


class CommitConflict(Exception):
    """Another writer published this version first — retry on a fresh
    snapshot."""


def _conflict_backoff(attempt: int) -> None:
    """Jittered exponential backoff between CAS retries. Measured
    (scripts/exp_contention.py, 8 writers x 50 commits on local fs):
    immediate retry loses the race 4.2-4.6x per commit (each loser
    re-lists the manifest dir, rewrites + fsyncs a temp manifest, and
    collides again); sleeping uniform(0, 2ms * 2^attempt) cuts that to
    ~0.2 retries/commit AND raises sustained throughput ~25% (the
    storm's redundant fsyncs were slowing the winners too). Capped at
    64 ms so a long-losing writer still probes regularly — on object
    stores, where a round-trip replaces link(2), the base is dwarfed
    by request latency and the cap is what matters."""
    import random

    time.sleep(random.uniform(0.0, 0.002 * (2 ** min(attempt, 5))))


_RESERVED_COLUMNS = ("__bytes__", "__rows__")


def _reject_reserved_columns(df: DataFrame) -> None:
    """The manifest stats namespace reserves `__bytes__` (file size)
    and `__rows__` (footer row count) pseudo-columns; a real column
    with either name would have
    its collected range clobbered by the file size, and stats pruning
    on it could then prove a file disjoint from rows it actually
    holds (missed reads, un-deleted rows, duplicate keys on merge).
    Refuse at the single write chokepoint rather than corrupt."""
    bad = [c for c in df.columns if c in _RESERVED_COLUMNS]
    if bad:
        raise ValueError(
            f"column name(s) {bad} are reserved for TxTable manifest "
            "stats — rename the column"
        )


# Per-file metadata memos: footer stats of staged data files (written
# once under uuid dirs; vacuum/compact only delete them) and the app
# dicts of manifests (link(2)-ed into place, never rewritten; expiry only
# deletes). The file stamp is still part of the key: a path rewritten in
# place, or a table dropped and re-created at the same path, reuses old
# file names for new content. Values are shared, read-only objects.
_FOOTER_MEMO = StampedLRU(4096)
_APP_MEMO = StampedLRU(8192)


def _read_files(spark: SparkSession, files: tuple, schema_ddl: str) -> DataFrame:
    return spark.read.schema(schema_ddl).parquet(*files)


def _scan_files(spark: SparkSession, schema_ddl: str, files) -> DataFrame:
    """``spark.read.schema(schema_ddl).parquet(*files)`` through the
    session's plan-handle memo (handles.py): the lifecycle queries read
    one snapshot many times per run (probe, verify, serve). The key is
    the RESOLVED file set, so a commit changes the key and the next
    read() misses, which IS the invalidation (content-addressed,
    strictly safer than (path, version)); data files are written once
    under fresh uuid paths, so their tuple is stamped IMMUTABLE and a
    handle can never serve stale bytes."""
    return HANDLES.get(spark, _read_files, tuple(files), schema_ddl, stamp=IMMUTABLE)


def _footer_stats_one(f: str) -> dict[str, list]:
    """Stats for ONE file — see _collect_file_stats for the semantics.

    SHARED-OWNERSHIP CONTRACT: on a cache hit this returns the SAME
    dict object every caller sees (the identity is test-pinned, and
    copying per call would defeat the memo's point for wide commits).
    Callers must treat the result — and its list values — as frozen;
    a mutation (e.g. popping __bytes__ before serializing) would
    silently corrupt stats for every later commit touching the file.
    Serializers that need to drop keys must build a new dict."""
    import pyarrow.parquet as pq

    stamp = file_stamp(f)
    if stamp is None:
        raise FileNotFoundError(errno.ENOENT, os.strerror(errno.ENOENT), f)

    def parse() -> dict[str, list]:
        md = pq.ParquetFile(f).metadata
        per = _stats_from_metadata(md)
        # File size / row count as pseudo-columns (real columns can't be
        # named this; predicates never probe them): segment envelopes then
        # carry [min_bytes, max_bytes] so bin-packed compaction can prove
        # an all-large segment skippable, and row_count() answers COUNT(*)
        # from footer metadata without touching data.
        per["__bytes__"] = [stamp[1]] * 2  # st_size
        per["__rows__"] = [md.num_rows] * 2
        return per

    return _FOOTER_MEMO.get(f, stamp, parse)


def _collect_file_stats(files: list[str]) -> dict[str, dict[str, list]]:
    """Per-file min/max column stats from the parquet footers the
    files already carry (no data scan — footer metadata only), merged
    across row groups. Only JSON-representable scalar types (ints,
    floats, strs, bools) are kept; columns without usable stats are
    simply absent, which the pruner treats as 'cannot prune'.

    Driver-side over the JUST-WRITTEN files of one commit — manifest-
    scale work, the same place Iceberg/Delta collect their per-file
    stats (from the writing tasks); at fact-table scale the loop
    becomes a task-side metric the commit aggregates. Footer parses of
    uncached files run in a small thread pool (pyarrow releases the
    GIL around the IO/parse), so a wide staged write doesn't serialize
    the driver on footer reads (guide §7.3).

    The per-file dicts are the memo's OWN objects (see
    _footer_stats_one) — read-only to callers, never mutate."""
    if len(files) > 3:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(min(16, len(files))) as ex:
            return dict(zip(files, ex.map(_footer_stats_one, files)))
    return {f: _footer_stats_one(f) for f in files}


def _stats_from_metadata(md) -> dict[str, list]:
    """Column min/max envelope from one file's parquet metadata.

    A column whose min/max is missing or unusable in ANY row group
    must carry NO file-level stats at all: merging only the row groups
    that have stats UNDERSTATES the range (e.g. a NaN-containing
    double chunk gets has_min_max=False, and a pruner trusting the
    partial range would drop real rows)."""
    per: dict[str, list] = {}
    unusable: set[str] = set()
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if name in unusable:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                unusable.add(name)
                continue
            mn, mx = st.min, st.max
            if not all(isinstance(v, (int, str, bool)) for v in (mn, mx)):
                # Floating-point columns carry NO file-level stats at
                # all: the parquet spec leaves NaN statistics
                # undefined, and common writers (Arrow C++ included)
                # emit min/max over the NON-NaN values only — while
                # Spark orders NaN greater than every double and
                # NaN = NaN true, so a range built from non-NaN
                # values can "prove" a NaN-holding file disjoint
                # from a predicate its NaN rows actually match.
                # There is no has_nan flag to consult, so the only
                # safe stats for floats are none. (isinstance check:
                # bool is an int subclass, floats are excluded even
                # when finite.)
                unusable.add(name)
                continue
            if name in per:
                per[name] = [min(per[name][0], mn), max(per[name][1], mx)]
            else:
                per[name] = [mn, mx]
    for name in unusable:
        per.pop(name, None)
    return per


def _file_may_match(per: dict[str, list], pred: tuple[str, str, object]) -> bool:
    """Conservative footer-stats test: False ONLY when the file's
    [min, max] range for the predicate column PROVES no row matches.
    Missing stats (all-null files, unsupported types) keep the file —
    correctness never depends on stats existing."""
    col, op, val = pred
    if op in ("isnull", "notnull", "!="):
        # min/max stats track VALUES only — no null counts, and a
        # range can prove `!=` empty only in the degenerate
        # single-value case below; stay conservative otherwise
        if op == "!=" and col in per:
            mn, mx = per[col]
            try:
                return not (mn == val == mx)
            except TypeError:
                return True
        return True
    if col not in per:
        return True
    mn, mx = per[col]
    try:
        if op == "in":
            if isinstance(val, _SortedVals):
                # pre-sorted by _prep_dnf: bisect instead of scanning.
                # Measured with scripts/exp_probe_cap.py: the linear
                # test cost ~10µs per (key, file) pair — 6s for
                # a 10k-key footprint over 64 files, HOURS at 10^5
                # files; the bisect is O(log keys) per file.
                i = bisect.bisect_left(val, mn)
                return i < len(val) and val[i] <= mx
            vals = (
                list(val)
                if isinstance(val, (list, tuple, set, frozenset))
                else [val]
            )
            return any(mn <= x <= mx for x in vals)
        if op == "=":
            return mn <= val <= mx
        if op == "<":
            return mn < val
        if op == "<=":
            return mn <= val
        if op == ">":
            return mx > val
        if op == ">=":
            return mx >= val
    except TypeError:
        return True  # incomparable literal vs stats type — keep
    return True  # unknown op — never prune on it


# Upper bound on distinct update-key values probed per key column; a
# wider batch falls back to a [min, max] range test. Driver-side and
# manifest-scale by construction.
_MERGE_PROBE_CAP = 10_000

# MANIFEST SCALING (the Iceberg manifest-list shape): a commit whose
# file count exceeds _INLINE_FILES_MAX stops inlining files+stats into
# the pointer JSON and spills them into immutable parquet SEGMENTS of
# _SEGMENT_ROWS rows each (columns: file, stats-as-JSON), keeping only
# the segment descriptors — path, n_files, and an ENVELOPE min/max
# rollup per column — in the pointer. Planning is then two-level:
# predicates prune whole segments against the envelopes first, and only
# surviving segments' per-file rows are ever loaded, so driver memory
# is O(matching files), never one JSON of every file's stats. Carried
# segments move between manifests as descriptors (no re-read/re-write);
# at 10^5-10^6 files the pointer stays a few KB.
_INLINE_FILES_MAX = 64
_SEGMENT_ROWS = 512


def _stats_rollup(stats_list: list[dict]) -> dict[str, list]:
    """Envelope stats over a segment's per-file stats: a column is kept
    only when EVERY file carries it (a missing column means the rollup
    could understate the range), with min-of-mins / max-of-maxs.
    Incomparable mixes are dropped — absence only ever means 'cannot
    prune at segment level', never a wrong prune."""
    if not stats_list:
        return {}
    common = set(stats_list[0])
    for s in stats_list[1:]:
        common &= set(s)
    out: dict[str, list] = {}
    for c in sorted(common):
        try:
            out[c] = [
                min(s[c][0] for s in stats_list),
                max(s[c][1] for s in stats_list),
            ]
        except TypeError:
            continue
    return out

# The predicate grammar shared by read(where=...), delete_where,
# update_where, and the stats pruner — one definition so they can
# never drift. Two accepted shapes:
#   [(col, op, val), ...]              one CONJUNCTION
#   [[(col, op, val), ...], [...]]     DNF — OR of conjunctions
# e.g. `[[("a","=",1),("b","<",2)], [("c",">",3)]]` reads as
# (a=1 AND b<2) OR c>3. Stats pruning distributes over the OR: a file
# is skipped only when EVERY disjunct is proven empty for it.
def _dnf(where) -> list[list]:
    """Normalize to DNF. Detection: a conjunction's first element is a
    predicate triple whose first item is the column NAME (str); a
    DNF's first element is a list of triples."""
    if not where:
        return []
    first = where[0]
    if isinstance(first, (list, tuple)) and first and isinstance(
        first[0], str
    ):
        return [list(where)]
    return [list(conj) for conj in where]


# Above this size, `Column.isin(*vals)` construction dominates: py4j
# marshals one literal per value (~0.8ms each: 45s to BUILD a
# 20k-value isin before any row is read; break-even vs the ~30ms flat
# json path is ~64 values, measured with scripts/exp_probe_cap.py).
# Large lists switch to ONE json string literal parsed JVM-side
# (from_json is constant-folded) + array_contains. Trade-off: isin
# executes as an O(1)/row hash InSet while array_contains is
# O(|vals|)/row — but the big-list path runs on stats-PRUNED reads
# (bounded rows), and the callers that could pair huge lists with
# huge scans cap the list (probe_cap) or use join-based application
# (file-backed tombstones).
_ISIN_LITERAL_MAX = 64


def _isin(c, v):
    import json as _json
    import math as _math

    from pyspark.sql import functions as F

    vals = list(v) if isinstance(v, (list, tuple, set, frozenset)) else [v]
    if not vals:
        return F.lit(False)
    if len(vals) > _ISIN_LITERAL_MAX:
        # exact JSON round-trip only for homogeneous safe types:
        # int64-range int → bigint, finite float → double, str →
        # string; anything else falls back to isin. The int64 bound
        # matters: a Python int past 2^63 would overflow from_json's
        # bigint parse and NULL the whole array — silently matching
        # NOTHING — where isin raises a loud overflow error.
        if all(
            type(x) is int and -(2**63) <= x < 2**63 for x in vals
        ):
            elem = "bigint"
        elif all(type(x) is float and _math.isfinite(x) for x in vals):
            elem = "double"
        elif all(type(x) is str for x in vals):
            elem = "string"
        else:
            elem = None
        if elem is not None:
            arr = F.from_json(
                F.lit(_json.dumps(vals)), f"array<{elem}>"
            )
            return F.array_contains(arr, c)
    return c.isin(*vals)


_OPS = {
    "=": lambda c, v: c == v,
    "!=": lambda c, v: c != v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    # value is a list/tuple/set of scalars; empty -> matches nothing
    "in": lambda c, v: _isin(c, v),
    # null tests take value=None (ignored); SQL three-valued logic
    # does not apply — they are TRUE/FALSE for every row
    "isnull": lambda c, v: c.isNull(),
    "notnull": lambda c, v: c.isNotNull(),
}


def _where_cond(where):
    """The predicate as one Column (OR over DNF disjuncts, AND within
    each) — the single builder shared by read/delete/update/tombstones
    so the grammar can't drift."""
    from pyspark.sql import functions as F

    out = None
    for conj in _dnf(where):
        cond = F.lit(True)
        for col, op, val in conj:
            # `in` handles its own literals (one per scalar); F.lit on
            # a list would build a single ARRAY literal and break isin
            rhs = val if op == "in" else F.lit(val)
            cond = cond & _OPS[op](F.col(col), rhs)
        out = cond if out is None else (out | cond)
    return F.lit(True) if out is None else out


def _delete_keep_filter(df, where):
    """SQL DELETE semantics: remove rows where the predicate is TRUE;
    null-valued comparisons (cond = NULL) KEEP the row — a bare ~cond
    would silently delete them. One implementation for COW deletes and
    tombstone application, so the null rule can't drift."""
    from pyspark.sql import functions as F

    return df.filter(~F.coalesce(_where_cond(where), F.lit(False)))


def _json_where(where) -> list[list]:
    """Predicates in manifest-JSON shape: tuples/sets of an `in` list
    become plain lists so tombstones and app metadata serialize.
    Values must be JSON scalars — a date/Decimal key would otherwise
    crash json.dump deep inside the commit (and reload as a different
    type than the column, breaking the tombstone filter); fail loudly
    at the API boundary instead."""
    def _scalar(x):
        if x is None or isinstance(x, (int, float, str, bool)):
            return x
        raise ValueError(
            f"predicate value {x!r} ({type(x).__name__}) is not a JSON "
            "scalar — tombstone/app predicates support int/float/str/"
            "bool/None; cast the key column first"
        )

    def _conv(conj) -> list[list]:
        out = []
        for c, op, v in conj:
            if isinstance(v, (list, tuple, set, frozenset)):
                vs = sorted(v) if isinstance(v, (set, frozenset)) else list(v)
                out.append([c, op, [_scalar(x) for x in vs]])
            else:
                out.append([c, op, _scalar(v)])
        return out

    dnf = [_conv(conj) for conj in _dnf(where)]
    # single-conjunction predicates keep the flat conjunction shape, so
    # every existing manifest/tombstone round-trips unchanged
    return dnf[0] if len(dnf) == 1 else dnf


def _check_ops(where) -> None:
    dnf = _dnf(where)
    if any(not conj for conj in dnf):
        raise ValueError(
            "empty disjunct in predicate — a bare [] inside a DNF "
            "would match EVERY row"
        )
    bad = [op for conj in dnf for _, op, _ in conj if op not in _OPS]
    if bad:
        raise ValueError(
            f"unsupported predicate op(s) {bad}; supported: {sorted(_OPS)}"
        )


class _SortedVals(tuple):
    """Marker type for an `in` predicate's value list after `_prep_dnf`
    deduplicated and SORTED it — `_file_may_match` then proves a file's
    [min, max] empty by bisect (O(log keys)) instead of a linear scan.
    A plain list/tuple still takes the linear path, so unprepared
    callers stay correct."""


def _prep_dnf(where) -> list[list]:
    """Normalize a predicate ONCE per plan for the per-file stats loop:
    DNF shape, with every `in` value list deduplicated and sorted into
    a `_SortedVals`. The stats test used to re-normalize the
    DNF and re-scan the full value list for EVERY file — O(keys·files)
    driver time, measured at ~10µs per pair (exp_probe_cap.py), which
    made wide in-list predicates cost seconds at 64 files and would
    cost hours at manifest scale. Value lists that won't sort (mixed
    types) stay as plain tuples and keep the linear test."""
    out = []
    import math as _math

    for conj in _dnf(where):
        pc = []
        for col, op, val in conj:
            if op == "in" and isinstance(
                val, (list, tuple, set, frozenset)
            ) and not isinstance(val, _SortedVals):
                # NaN poisons sorted() SILENTLY (comparison-false, no
                # TypeError) and an unordered _SortedVals makes the
                # bisect falsely prune files — keep the linear path
                if any(
                    isinstance(x, float) and _math.isnan(x) for x in val
                ):
                    val = tuple(val)
                else:
                    try:
                        val = _SortedVals(sorted(set(val)))
                    except TypeError:
                        val = tuple(val)
            pc.append((col, op, val))
        out.append(pc)
    return out


def _prepped_may_match(per: dict[str, list], prepped: list[list]) -> bool:
    """Stats test over a `_prep_dnf` result: a file is prunable only
    when EVERY disjunct is proven empty for it (OR distributes)."""
    return any(
        all(_file_may_match(per, p) for p in conj) for conj in prepped
    )


def _dnf_may_match(per: dict[str, list], where) -> bool:
    """One-shot form (prepares per call — loops over many files should
    `_prep_dnf` once and use `_prepped_may_match`)."""
    return _prepped_may_match(per, _prep_dnf(where))


def _merge_probe(updates: DataFrame, key_cols: list[str]) -> dict[str, tuple | None]:
    """Per key column, a summary of the update batch's key values used
    to decide which existing files a merge must rewrite: ('vals',
    sorted distinct values) when the batch is narrow, ('range', mn, mx)
    when wide, None when the values aren't orderable scalars (→ no
    pruning: every file is treated as possibly matching).

    The wide-batch range is the TRUE min/max computed by an
    aggregation over the whole batch — never the min/max of the
    limited collect (an arbitrary subset's extremes would falsely
    prove disjointness from a file that actually holds an update key,
    and a carried-verbatim file plus an appended update row is
    duplicate-key corruption)."""
    from pyspark.sql import functions as F

    import math

    def _has_nan(vs) -> bool:
        return any(isinstance(v, float) and math.isnan(v) for v in vs)

    probe: dict[str, tuple | None] = {}
    for c in key_cols:
        rows = updates.select(c).distinct().limit(_MERGE_PROBE_CAP + 1).collect()
        vals = [r[0] for r in rows]
        if not vals:
            probe[c] = ("empty",)  # no update rows at all — merge is a no-op
            continue
        # NaN is a legal merge key (Spark joins treat NaN = NaN as a
        # match) but poisons ordered pruning: sorted() with a NaN is
        # UNSORTED (every NaN comparison is False), which breaks
        # bisect's invariant and can falsely prove a file disjoint from
        # a real update key — carried-verbatim file + appended update
        # row = silent duplicate-key corruption. No pruning on NaN.
        if not all(isinstance(v, (int, float, str, bool)) for v in vals) or _has_nan(
            vals
        ):
            probe[c] = None
            continue
        if len(vals) > _MERGE_PROBE_CAP:
            lo, hi = updates.agg(F.min(c), F.max(c)).first()
            # Spark's max() returns NaN when any value is NaN (NaN
            # orders greatest) — the collected sample above can miss it
            # past the cap, so re-check the aggregated extremes too
            if _has_nan((lo, hi)):
                probe[c] = None
            else:
                probe[c] = ("range", lo, hi)
        else:
            probe[c] = ("vals", sorted(vals))
    return probe


def _file_overlaps_probe(per: dict[str, list], probe: dict[str, tuple | None]) -> bool:
    """Conservative: True unless the file's stats PROVE no update key
    tuple can live in it. Per-column test (tuple coherence across
    columns is ignored — that only ever keeps extra files)."""
    import bisect

    for col, p in probe.items():
        if p is not None and p[0] == "empty":
            return False  # an empty update batch matches no file
        if p is None or col not in per:
            continue  # can't prune on this column
        mn, mx = per[col]
        try:
            if p[0] == "range":
                if p[2] < mn or mx < p[1]:  # ranges disjoint
                    return False
            else:
                vals = p[1]
                i = bisect.bisect_left(vals, mn)
                if i >= len(vals) or vals[i] > mx:
                    return False
        except TypeError:
            continue  # incomparable — keep the file
    return True


def _pruned_tombstones(
    tbs: list[dict], rewritten: set[str]
) -> list[dict] | None:
    """Carry merge-on-read tombstones forward minus the files a commit
    rewrote (their replacements were read with the tombstones applied,
    so the deleted rows are physically gone there); a tombstone whose
    whole file list was rewritten drops entirely. Shape-agnostic:
    predicate tombstones ({'where'}) and key-list tombstones
    ({'keyfiles', 'key_cols'}) both carry every field but 'files'."""
    out = []
    for t in tbs:
        rest = [f for f in t["files"] if f not in rewritten]
        if rest:
            out.append({**t, "files": rest})
    return out or None


def _dirs_of(files: list[str]) -> list[str]:
    """Distinct parent dirs of a freshly-staged file list (census keys)."""
    return sorted({os.path.dirname(f) for f in files})


class TxTable:
    def __init__(self, path: str):
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.manifest_dir = os.path.join(path, "_manifests")
        # committed_at per version, memoized for version_as_of (same
        # access pattern vacuum memoizes segments for): manifests are
        # immutable once linked, so a cached timestamp never goes stale;
        # None records an expired (deleted) manifest, which can never
        # reappear (restore publishes NEW versions).
        self._committed_at_cache: dict[int, float | None] = {}

    # -- snapshot resolution ---------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.manifest_dir, f"v{version:010d}.json")

    def latest_version(self) -> int:
        """Highest committed version, 0 = empty/uninitialized table."""
        try:
            names = os.listdir(self.manifest_dir)
        except FileNotFoundError:
            return 0
        versions = [
            int(n[1:11]) for n in names if n.startswith("v") and n.endswith(".json")
        ]
        return max(versions, default=0)

    def _read_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version), encoding="utf-8") as fh:
            return json.load(fh)

    # -- stats segments (format-2 manifests) --------------------------

    def _segments_dir(self) -> str:
        return os.path.join(self.manifest_dir, "segments")

    def _write_segment(self, rows: list[tuple[str, dict]]) -> dict:
        """One immutable stats segment: parquet of (file, stats-JSON)
        rows. Returns its descriptor for the pointer manifest — path,
        n_files, and the envelope rollup the segment-level pruner
        tests before ever opening the segment."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self._segments_dir(), exist_ok=True)
        p = os.path.join(self._segments_dir(), f"{uuid.uuid4().hex}.parquet")
        pq.write_table(
            pa.table(
                {
                    "file": [f for f, _ in rows],
                    "stats": [json.dumps(s) for _, s in rows],
                }
            ),
            p,
        )
        dirs: dict[str, int] = {}
        for f, _ in rows:
            d = os.path.dirname(f)
            dirs[d] = dirs.get(d, 0) + 1
        # exact row total when every file carries footer row counts —
        # lets row_count() answer from descriptors without opening
        # the segment (None = unknown, metadata count falls back)
        n_rows = (
            sum(s["__rows__"][0] for _, s in rows)
            if all("__rows__" in s for _, s in rows)
            else None
        )
        return {
            "path": p,
            "n_files": len(rows),
            "stats": _stats_rollup([s for _, s in rows]),
            # referenced-file count per staging dir: lets the full-scan
            # planner prove a dir fully live (count == dirs_created
            # census) WITHOUT opening this segment's parquet
            "dirs": dirs,
            "rows": n_rows,
        }

    def _segment_files(self, seg: dict) -> list[str]:
        """File paths only — a column-projected read, no stats parse."""
        import pyarrow.parquet as pq

        return pq.read_table(seg["path"], columns=["file"]).column("file").to_pylist()

    def _segment_rows(self, seg: dict) -> list[tuple[str, dict]]:
        import pyarrow.parquet as pq

        t = pq.read_table(seg["path"])
        return [
            (f, json.loads(s))
            for f, s in zip(
                t.column("file").to_pylist(), t.column("stats").to_pylist()
            )
        ]

    # -- manifest accessors (format-agnostic) --------------------------

    def _manifest_files(self, m: dict) -> list[str]:
        """Every data file of a snapshot. For format-2 manifests this
        loads the segments' file columns (columnar, stats untouched) —
        used by the paths that genuinely need the full list (unfiltered
        read, vacuum, rebase), never by the pruned planners."""
        if "segments" in m:
            out: list[str] = []
            for seg in m["segments"]:
                out += self._segment_files(seg)
            return out
        return m["files"]

    def _manifest_n_files(self, m: dict) -> int:
        if "segments" in m:
            return sum(seg["n_files"] for seg in m["segments"])
        return len(m["files"])

    def _plan_scan_paths(self, m: dict, exclude: set[str] | None = None) -> list[str]:
        """Scan paths for an UNFILTERED read, DIRECTORY-GROUPED — the
        bounded-driver answer to full-scan planning (what Delta's JVM
        file index does in spirit): a staging dir every one of whose
        on-disk files is referenced by this snapshot is handed to Spark
        as ONE directory path, so the per-file enumeration happens
        JVM-side (Spark's parallel partition discovery distributes the
        listing past 32 paths) instead of materializing a 10^6-element
        Python list and shipping it through py4j.

        Soundness: (a) staging dirs are immutable after their creating
        commit (_write_data always writes a fresh uuid dir), so the
        `dirs_created` census count never grows; (b) vacuum() removes
        whole unreferenced DIRS, never single files, so the count never
        shrinks while any file is referenced; therefore `referenced ==
        created` proves every .parquet in the dir belongs to this
        snapshot. Per-dir referenced counts ride the segment
        descriptors (manifest JSON), so only segments containing files
        of PARTIALLY-live dirs (post row-level delete/merge rewrites)
        are ever opened — driver cost is O(#dirs + #partial files), not
        O(#files). Manifests predating the census (or with legacy
        segments lacking `dirs`) fall back to full enumeration.

        ``exclude`` removes the named files from the plan entirely
        (the merge-on-read reader scans them separately with their
        tombstone filters): their dirs are demoted from whole-dir to
        per-file emission — the clean remainder keeps dir grouping."""
        exclude = exclude or set()
        ex_dirs = {os.path.dirname(f) for f in exclude}
        census = m.get("dirs_created")
        if not census:
            return [f for f in self._manifest_files(m) if f not in exclude]
        if "segments" not in m:
            files = m["files"]
            ref: dict[str, int] = {}
            for f in files:
                d = os.path.dirname(f)
                ref[d] = ref.get(d, 0) + 1
            full = {
                d for d, n in ref.items()
                if census.get(d) == n and d not in ex_dirs
            }
            return sorted(full) + [
                f for f in files
                if os.path.dirname(f) not in full and f not in exclude
            ]
        segs = m["segments"]
        if any("dirs" not in s for s in segs):
            return [  # legacy segments
                f for f in self._manifest_files(m) if f not in exclude
            ]
        ref = {}
        for s in segs:
            for d, n in s["dirs"].items():
                ref[d] = ref.get(d, 0) + n
        full = {
            d for d, n in ref.items()
            if census.get(d) == n and d not in ex_dirs
        }
        out = sorted(full)
        for s in segs:
            if set(s["dirs"]) <= full:
                continue  # every file covered by a dir path — never opened
            out += [
                f
                for f in self._segment_files(s)
                if os.path.dirname(f) not in full and f not in exclude
            ]
        return out

    def _manifest_stats(self, m: dict) -> dict[str, dict]:
        """Full per-file stats dict — ONLY for the rare paths that
        need everything at once (rebase after a lost CAS). Planners use
        `_split_files`, which never materializes this."""
        if "segments" in m:
            out: dict[str, dict] = {}
            for seg in m["segments"]:
                out.update(self._segment_rows(seg))
            return out
        return m.get("stats", {})

    def _split_files(self, m: dict, may_match) -> tuple[
        list[str], list[str], dict[str, dict], list[dict], dict[str, dict]
    ]:
        """Two-level stats pruning, shared by read(where)/merge/delete/
        bin-pack: partition a snapshot's files by
        `may_match(per_file_stats)` into (matching, carried,
        carried_stats, reused_segments, matching_stats).

        Format 2: a segment whose ENVELOPE rollup proves no match is
        reused as a descriptor — its per-file rows are never loaded and
        its files never enter driver memory. Only envelope-overlapping
        segments are opened and split per file. Format 1 degrades to
        the flat loop over inline stats. `may_match` must be
        conservative (True on missing stats), which makes the envelope
        test conservative too: a column missing from the rollup simply
        forces the segment open."""
        matching: list[str] = []
        carried: list[str] = []
        carried_stats: dict[str, dict] = {}
        matching_stats: dict[str, dict] = {}
        reused: list[dict] = []
        if "segments" in m:
            for seg in m["segments"]:
                if not may_match(seg.get("stats", {})):
                    reused.append(seg)
                    continue
                for f, s in self._segment_rows(seg):
                    if may_match(s):
                        matching.append(f)
                        matching_stats[f] = s
                    else:
                        carried.append(f)
                        carried_stats[f] = s
        else:
            stats = m.get("stats", {})
            for f in m["files"]:
                if may_match(stats.get(f, {})):
                    matching.append(f)
                    if f in stats:
                        matching_stats[f] = stats[f]
                else:
                    carried.append(f)
                    if f in stats:
                        carried_stats[f] = stats[f]
        return matching, carried, carried_stats, reused, matching_stats

    # -- read path ---------------------------------------------------

    def version_as_of(self, ts: float) -> int:
        """Highest version committed at or before `ts` (epoch seconds) —
        timestamp time travel (`read(version=t.version_as_of(ts))`).
        Commit times are the writers' clocks (same caveat as
        Delta/Iceberg: cross-writer skew makes sub-second as-of reads
        approximate; version pinning is the exact form).

        Manifest timestamps are memoized per instance (immutable once
        committed), so repeated lookups on a long-history table read
        each manifest once, not O(V) per call."""
        best = 0
        for v in range(1, self.latest_version() + 1):
            if v not in self._committed_at_cache:
                try:
                    self._committed_at_cache[v] = self._read_manifest(v)[
                        "committed_at"
                    ]
                except FileNotFoundError:
                    self._committed_at_cache[v] = None  # expired version
            at = self._committed_at_cache[v]
            if at is not None and at <= ts:
                best = v
        if best == 0:
            raise ValueError(
                f"no snapshot of {self.path} existed at or before {ts}"
            )
        return best

    def restore(self, version: int, max_retries: int = 10) -> int:
        """RESTORE (Delta semantics): publish a NEW version whose
        content is exactly snapshot `version` — a roll-forward undo,
        so history is preserved (nothing is rewritten or deleted; the
        bad versions stay time-travelable and the restore itself is one
        manifest commit referencing the old files/segments/stats).

        A restore IS a logical change but stages no change images, so a
        change-feed consumer crossing it fails LOUDLY per the gap rule
        (changes_for_version raises) and must re-seed from the restored
        snapshot — the honest behavior when the history it replayed has
        been rolled back."""
        m = self._read_manifest(version)
        for _attempt in range(max_retries):
            head = self.latest_version()
            if head == 0:
                raise ValueError(f"table {self.path} has no committed snapshot")
            kw = {}
            if "segments" in m:
                kw["reuse_segments"] = m["segments"]
                files: list[str] = m.get("files", [])
                stats = m.get("stats", {})
            else:
                files = m["files"]
                stats = m.get("stats", {})
            try:
                # census: head's (may have pruned since) ∪ the restored
                # snapshot's own — the restored dirs become referenced
                # again and must keep their created-counts
                try:
                    head_census = self._read_manifest(head).get(
                        "dirs_created", {}
                    )
                except FileNotFoundError:
                    head_census = {}
                self._try_commit(
                    head + 1, files, m["schema_ddl"],
                    app={"restored_from": version}, stats=stats,
                    census_base={**head_census, **m.get("dirs_created", {})},
                    bucketing=m.get("bucketing"),
                    tombstones=m.get("tombstones"),
                    **kw,
                )
                return head + 1
            except CommitConflict:
                _conflict_backoff(_attempt)
                continue
        raise CommitConflict(f"gave up after {max_retries} retries")

    def _apply_tombstones(
        self, spark: SparkSession, m: dict, files: list[str],
        ddl: str | None = None,
    ) -> DataFrame:
        """Read `files` under manifest `m` with its merge-on-read
        TOMBSTONES applied: each tombstone names the explicit files its
        delete covers, so files group by their applicable tombstone set
        and each group scans once with the corresponding anti-filters /
        anti-joins. Two tombstone shapes:

        - predicate ({'where'}): anti-filter with SQL DELETE null
          semantics — a null comparison KEEPS the row;
        - key list ({'keyfiles', 'key_cols'}, the Iceberg
          equality-delete-file shape from `delete_keys`): LEFT ANTI
          JOIN against the parquet side file(s) holding the deleted
          keys — the key set never rides through the driver or the
          manifest, so one tombstone can name 10^8 keys. Null join
          keys never match (rows with null keys are KEPT, the same
          null rule as the predicate form); the key side is tiny
          relative to data, so Catalyst broadcasts it.

        Files outside every tombstone read clean in one scan.
        Tombstone lists are short-lived by design (merges prune
        rewritten files out; compaction materializes), so the group
        count stays tiny."""
        from functools import reduce

        from pyspark.sql import functions as F

        ddl = ddl or m["schema_ddl"]
        if not files:
            return empty_frame(spark, ddl)
        tbs = m.get("tombstones") or []
        if not tbs:
            return spark.read.schema(ddl).parquet(*files)
        tb_files = [set(t["files"]) for t in tbs]
        groups: dict[tuple[int, ...], list[str]] = {}
        for f in files:
            key = tuple(i for i, s in enumerate(tb_files) if f in s)
            groups.setdefault(key, []).append(f)
        cols = ddl_schema(ddl).fieldNames()
        parts = []
        for key, fs in groups.items():
            df = spark.read.schema(ddl).parquet(*fs)
            for i in key:
                t = tbs[i]
                if "keyfiles" in t:
                    dead = spark.read.parquet(*t["keyfiles"]).select(
                        *t["key_cols"]
                    )
                    # a USING anti-join moves the join keys to the
                    # front — restore schema order (the group union
                    # below is positional)
                    df = df.join(dead, t["key_cols"], "left_anti").select(
                        *cols
                    )
                else:
                    df = _delete_keep_filter(df, t["where"])
            parts.append(df)
        return reduce(lambda a, b: a.unionAll(b), parts)

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        where: list[tuple[str, str, object]] | None = None,
    ) -> DataFrame:
        """The table AS OF `version` (default: latest). Resolves the
        manifest once; the returned DataFrame scans exactly that file
        set no matter what commits land afterwards.

        ``where`` — optional predicates, either one conjunction
        [(col, op, value), ...] or DNF [[conj], [conj], ...] = OR of
        conjunctions, op in {=, !=, <, <=, >, >=, in, isnull, notnull} — enables
        STATS-BASED FILE SKIPPING: files whose manifest min/max stats
        prove no matching row are dropped from the scan before Spark
        ever plans it (the Iceberg/Delta data-skipping recipe; Spark's
        own pushdown can only prune row groups INSIDE files it was
        given). Pruning distributes over OR: a file is skipped only
        when every disjunct is proven empty for it. The same
        predicates are then applied as real filters, so results are
        exact whether or not any file was skipped; manifests written
        before stats existed simply skip nothing.

        Merge-on-read tombstones (delete_where(mode='mor')) apply as
        per-file-group anti-filters over exactly the COVERED files;
        the clean remainder keeps the dir-grouped bounded planning —
        a tombstone over a handful of files never demotes a 10^6-file
        full scan to per-file enumeration."""
        v = self.latest_version() if version is None else version
        if v == 0:
            raise ValueError(f"table {self.path} has no committed snapshot")
        m = self._read_manifest(v)
        tbs = m.get("tombstones") or []
        if where:
            _check_ops(where)
            prepped = _prep_dnf(where)  # once, not per file
            files, _, _, _, _ = self._split_files(
                m, lambda per: _prepped_may_match(per, prepped)
            )
            if tbs:
                df = self._apply_tombstones(spark, m, files)
            elif not files:
                df = empty_frame(spark, m["schema_ddl"])
            else:
                df = _scan_files(spark, m["schema_ddl"], files)
            df = df.filter(_where_cond(where))
            return df
        if tbs:
            covered = sorted(set().union(*(set(t["files"]) for t in tbs)))
            clean = self._plan_scan_paths(m, exclude=set(covered))
            df = self._apply_tombstones(spark, m, covered)
            if clean:
                df = _scan_files(spark, m["schema_ddl"], clean).unionAll(df)
            return df
        # dir-grouped: bounded driver cost, listing distributed
        files = self._plan_scan_paths(m)
        if not files:
            return empty_frame(spark, m["schema_ddl"])
        return _scan_files(spark, m["schema_ddl"], files)

    # -- write path --------------------------------------------------

    @staticmethod
    def _staged(out: str | None, schema) -> tuple[list[str], str]:
        """(the non-empty `.parquet` files staged under ``out``, sorted;
        the DDL of ``schema``). ``out=None`` means nothing was staged.

        0-row part files (empty partitions from empty-schema unions,
        empty buckets etc.) are deleted at the staging boundary: their
        null min/max stats would force a conservative rewrite on EVERY
        subsequent merge/delete, and they'd keep their dir permanently
        partial for the dir-grouped full-scan planner. The footer read
        is one op per staged file, and `_footer_stats_one` warms the
        footer memo, so the commit's stats collection never re-parses
        these footers."""
        files = []
        for f in sorted(os.listdir(out)) if out is not None else ():
            p = os.path.join(out, f)
            if not f.endswith(".parquet"):
                continue
            if _footer_stats_one(p)["__rows__"][0] > 0:
                files.append(p)
            else:
                os.unlink(p)
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
        )
        return files, ddl

    def _write_data(self, df: DataFrame) -> tuple[list[str], str]:
        """Stage df as immutable parquet under data/, return (files,
        schema ddl). Data is invisible until a manifest references it,
        so failures leave only unreferenced litter (vacuumable)."""
        _reject_reserved_columns(df)
        out = os.path.join(self.data_dir, uuid.uuid4().hex)
        df.write.parquet(out)
        return self._staged(out, df.schema)

    def _write_data_parts(
        self, df: DataFrame, part_col, values: tuple[str, ...], cols: list[str]
    ) -> tuple[dict[str, list[str]], str]:
        """Stage ``df.select(cols)`` in ONE pass as ``len(values)``
        file sets partitioned by the string expression ``part_col``
        (every row must evaluate to one of ``values``): returns
        ({value: files}, ddl). The DML verbs use this to produce the
        kept data rows AND the change-feed image classes from a single
        scan — previously each class was its own full pass over the
        same bytes (at 100 TB a feed-enabled CoW delete re-read every
        touched file twice, and a feed-enabled merge paid a separate
        write job for the batch images).

        Mechanics: a dynamic-partition write splits rows task-locally
        into `marker=<value>/` subdirs of one staging dir, then the
        subdirs are promoted (rename — same filesystem, metadata-only)
        to ordinary top-level dirs under data/, because the vacuum
        census and the dir-grouped planner are single-level by design.
        The marker is partition-encoded, so the staged files carry
        exactly ``cols`` — byte-compatible with a plain _write_data of
        the same projection. A crash before the commit leaves the
        wrapper dir unreferenced (vacuumable litter), same as
        _write_data."""
        marker = "__txsplit__"
        if marker in cols:
            raise ValueError(
                f"column name {marker!r} is reserved for TxTable "
                "split staging — rename the column"
            )
        out_df = df.select(*cols, part_col.cast("string").alias(marker))
        _reject_reserved_columns(out_df.drop(marker))
        os.makedirs(self.data_dir, exist_ok=True)
        wrapper = os.path.join(self.data_dir, f"split-{uuid.uuid4().hex}")
        out_df.write.partitionBy(marker).parquet(wrapper)
        import shutil

        schema = out_df.drop(marker).schema
        sides: dict[str, list[str]] = {}
        for side in values:  # never empty: the verbs split 2 or 3 ways
            src = os.path.join(wrapper, f"{marker}={side}")
            dst = None
            if os.path.isdir(src):
                dst = os.path.join(self.data_dir, uuid.uuid4().hex)
                os.rename(src, dst)
            sides[side], ddl = self._staged(dst, schema)
        shutil.rmtree(wrapper, ignore_errors=True)
        return sides, ddl

    def _write_data_split(
        self, df: DataFrame, cond, cols: list[str]
    ) -> tuple[list[str], list[str], str]:
        """Two-way `_write_data_parts` over a boolean ``cond`` (nulls →
        False): returns (false_files, true_files, ddl). Partition dir
        values match the historical boolean encoding ("false"/"true")."""
        from pyspark.sql import functions as F

        sides, ddl = self._write_data_parts(
            df,
            F.when(
                F.coalesce(cond.cast("boolean"), F.lit(False)), F.lit("true")
            ).otherwise(F.lit("false")),
            ("false", "true"),
            cols,
        )
        return sides["false"], sides["true"], ddl

    def _write_data_bucketed(
        self, df: DataFrame, bucket_cols: list[str], n_buckets: int
    ) -> tuple[list[str], str]:
        """Stage df as BUCKETED parquet: hash-partitioned on
        `bucket_cols` into `n_buckets` with Spark's bucket-encoded file
        names (the `_NNNNN` suffix BucketingUtils parses), bucket-sorted
        within files. Spark only attaches bucket metadata through the
        catalog writer, so this routes through a throwaway EXTERNAL
        table at the staging dir — dropping the catalog entry keeps the
        files (external semantics), which the manifest then owns like
        any other staged data.

        The pre-write repartition by the bucket keys means each task
        holds exactly one bucket -> ONE file per bucket, which is what
        lets the bucketed read use the sort metadata (multi-file
        buckets force a runtime Sort even without an Exchange)."""
        _reject_reserved_columns(df)
        out = os.path.join(self.data_dir, uuid.uuid4().hex)
        tmp = f"txb_stage_{uuid.uuid4().hex[:12]}"
        spark = df.sparkSession
        (
            df.repartition(n_buckets, *[df[c] for c in bucket_cols])
            .write.bucketBy(n_buckets, *bucket_cols)
            .sortBy(*bucket_cols)
            .option("path", out)
            .saveAsTable(tmp)
        )
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")  # external: files survive
        # an empty bucket's file is dropped: Spark treats missing as empty
        return self._staged(out, df.schema)

    def read_bucketed(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """The snapshot as a BUCKETED scan: joins/aggregations on the
        bucket keys against another table bucketed the same way plan
        with NO Exchange (and, one file per bucket, no Sort) — the
        co-located-join path `compact(bucket_by=...)` paid for at write
        time. Path-listed parquet reads cannot carry bucket metadata
        (Spark attaches outputPartitioning only through the catalog),
        so this registers an EXTERNAL bucketed table over the compact's
        staging dir — sound because that dir is immutable after its
        commit and the bucketing spec is only present on manifests
        whose snapshot is exactly that dir's content (compact sets it;
        any later merge/delete/overwrite publishes a manifest without
        it; restore of a bucketed version carries it).

        Raises ValueError when the snapshot has no valid bucketing —
        re-run compact(bucket_by=...) after DML to re-cluster."""
        import hashlib

        v = self.latest_version() if version is None else version
        if v == 0:
            raise ValueError(f"table {self.path} has no committed snapshot")
        m = self._read_manifest(v)
        spec = m.get("bucketing")
        if not spec:
            raise ValueError(
                f"version {v} of {self.path} is not bucket-clustered — "
                "run compact(bucket_by=(cols, n_buckets)) first"
            )
        name = "txb_" + hashlib.sha1(
            f"{os.path.abspath(self.path)}@{v}".encode()
        ).hexdigest()[:16]
        cols = ", ".join(spec["cols"])
        # the location is interpolated into DDL: a quote in the table
        # path would break the statement / inject into the session
        # catalog — reject it like the other API-boundary validations
        if "'" in spec["dir"]:
            raise ValueError(
                f"bucketed table location {spec['dir']!r} contains a "
                "quote character — unsupported in catalog DDL"
            )
        if not spark.catalog.tableExists(name):
            spark.sql(
                f"CREATE TABLE {name} ({m['schema_ddl']}) USING parquet "
                f"CLUSTERED BY ({cols}) SORTED BY ({cols}) "
                f"INTO {spec['n']} BUCKETS LOCATION '{spec['dir']}'"
            )
        return spark.table(name)

    def latest_app(self) -> dict:
        """Application metadata of the latest snapshot ({} when empty) —
        e.g. the streaming sink's last-applied micro-batch id, so a
        replayed batch can detect it already committed."""
        v = self.latest_version()
        return self._read_manifest(v).get("app", {}) if v else {}

    def latest_app_value(self, key: str):
        """The newest commit's app value for `key`, walking PAST
        commits that don't carry it (compact/restore/manual merges
        publish their own app) and past expired manifests. The
        exactly-once sinks use this for their batch_id stamp — reading
        only the head's app would let any interleaved maintenance
        commit reset the stamp and a replayed micro-batch double-apply.
        Returns None if no surviving commit carries the key."""
        return self.latest_app_values((key,))[key]

    def latest_app_values(self, keys) -> dict:
        """`latest_app_value` for SEVERAL keys in ONE walk: each key
        resolves to the newest surviving commit that carries it
        (independently — different keys may come from different
        commits). The maintenance sinks read 2-4 app scalars per
        micro-batch (stamp + running n_docs/total_dl/ledger sums);
        walking the manifest chain once per SCALAR made the driver
        re-open+parse O(versions) JSON files per read (guide §7.3) —
        now it is one walk per batch, over the memoized app column."""
        keys = tuple(keys)
        out = dict.fromkeys(keys)
        missing = set(keys)
        for v in range(self.latest_version(), 0, -1):
            a = self._app_of(v)
            if a is None:
                continue  # expired version
            for k in tuple(missing):
                if k in a:
                    out[k] = a[k]
                    missing.discard(k)
            if not missing:
                break
        return out

    def _app_of(self, version: int):
        """The app dict of `version`, or None when expired, through
        ``_APP_MEMO``. The stat that takes the stamp (one syscall) also
        sees expiry, so an expired version drops out of the walk exactly
        as an uncached read would."""
        p = self._manifest_path(version)
        stamp = file_stamp(p)
        if stamp is None:
            return None  # expired
        try:
            return _APP_MEMO.get(
                p, stamp, lambda: self._read_manifest(version).get("app") or {}
            )
        except FileNotFoundError:
            return None  # expired between the stat and the read

    def _try_commit(
        self, version: int, files: list[str], schema_ddl: str,
        app: dict | None = None, stats: dict | None = None,
        changes: dict | None = None, reuse_segments: list[dict] | None = None,
        new_dirs: list[str] | None = None, census_base: dict | None = None,
        bucketing: dict | None = None, tombstones: list[dict] | None = None,
    ) -> None:
        """Publish `version` atomically: write a temp manifest, then
        link(2) it into place — link fails with EEXIST if a concurrent
        writer won this version (the CAS), and readers can never
        observe a half-written manifest.

        ``stats`` carries per-file stats already known (files inherited
        from a previous manifest keep theirs without a footer re-read);
        stats are collected fresh only for files missing from it.

        ``reuse_segments`` carries stats-segment descriptors inherited
        verbatim from a previous format-2 manifest; ``files`` then
        lists only the files NOT covered by them. Any commit with
        reused segments — or more than _INLINE_FILES_MAX loose files —
        publishes format 2 (loose files spill into fresh segments);
        smaller commits stay inline (format 1).

        ``new_dirs`` names the staging dirs THIS commit created via
        _write_data (their full contents are in ``files`` by
        construction); each gets a `dirs_created` census entry so
        _plan_scan_paths can prove it fully live. Carried dirs keep
        their inherited entries; a carried dir with no entry (legacy
        history) simply never dir-reads. ``census_base`` overrides the
        inherited census (compact passes {} to prune dead dirs out of
        the manifest; restore passes the union of head + restored)."""
        known = stats or {}
        fresh = _collect_file_stats([f for f in files if f not in known])
        allstats = {f: (known[f] if f in known else fresh[f]) for f in files}
        reuse_segments = reuse_segments or []
        os.makedirs(self.manifest_dir, exist_ok=True)
        if census_base is not None:
            census = dict(census_base)
        elif version > 1:
            try:
                census = dict(
                    self._read_manifest(version - 1).get("dirs_created", {})
                )
            except FileNotFoundError:
                census = {}  # v-1 expired — dirs fall back to file listing
        else:
            census = {}
        for d in new_dirs or []:
            census[d] = sum(1 for f in files if os.path.dirname(f) == d)
        manifest = {
            "version": version, "schema_ddl": schema_ddl,
            "committed_at": time.time(), "app": app or {},
        }
        if census:
            manifest["dirs_created"] = census
        if bucketing is not None:
            manifest["bucketing"] = bucketing
        if tombstones:
            manifest["tombstones"] = tombstones
        if changes is not None:
            manifest["changes"] = changes
        if reuse_segments or len(files) > _INLINE_FILES_MAX:
            segs = list(reuse_segments)
            rows = [(f, allstats[f]) for f in files]
            for i in range(0, len(rows), _SEGMENT_ROWS):
                segs.append(self._write_segment(rows[i : i + _SEGMENT_ROWS]))
            manifest["segments"] = segs
            manifest["n_files"] = sum(s["n_files"] for s in segs)
        else:
            manifest["files"] = files
            manifest["stats"] = allstats
        tmp = os.path.join(self.manifest_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        target = self._manifest_path(version)
        try:
            os.link(tmp, target)
        except FileExistsError as e:
            raise CommitConflict(f"version {version} already committed") from e
        finally:
            os.unlink(tmp)

    def init(self, df: DataFrame, app: dict | None = None) -> int:
        """Create version 1 from df (no-op error if already created —
        use merge_into/overwrite afterwards)."""
        os.makedirs(self.data_dir, exist_ok=True)
        files, ddl = self._write_data(df)
        self._check_constraints(df.sparkSession, files)
        self._try_commit(1, files, ddl, app, new_dirs=_dirs_of(files))
        return 1

    def overwrite(
        self, df: DataFrame, max_retries: int = 10, app: dict | None = None
    ) -> int:
        """Replace the table contents (still CAS-serialized). ``app``
        rides the SAME commit as the data — multi-table maintenance
        (e.g. retrain_ivf_index's epoch stamps) needs the new content
        and its regime marker to become visible atomically; a separate
        commit_app would leave a window where new data carries the old
        stamp."""
        os.makedirs(self.data_dir, exist_ok=True)
        files, ddl = self._write_data(df)
        self._check_constraints(df.sparkSession, files)
        for _attempt in range(max_retries):
            v = self.latest_version()
            try:
                # overwrite REPLACES content: prune the census like
                # compact does — no prior dir stays referenced
                self._try_commit(
                    v + 1, files, ddl, app,
                    new_dirs=_dirs_of(files), census_base={},
                )
                return v + 1
            except CommitConflict:
                _conflict_backoff(_attempt)
                continue
        raise CommitConflict(f"gave up after {max_retries} retries")

    def merge_into(
        self,
        updates: DataFrame,
        key_cols: list[str],
        max_retries: int = 10,
        app: dict | None = None,
        change_feed: bool = False,
    ) -> int:
        """MERGE INTO ... WHEN MATCHED UPDATE / WHEN NOT MATCHED
        INSERT, with optimistic concurrency — FILE-GRANULAR: only the
        files whose manifest stats say they MAY contain an update key
        are read, anti-joined, and rewritten; every other file is
        carried into the new manifest verbatim (stats included). Files
        without key-column stats (e.g. pre-stats manifests) are
        conservatively rewritten, so correctness never depends on
        stats existing.

        On a CAS conflict the loser first attempts a REBASE (see
        `_try_rebase`): if the winner's commit provably didn't touch
        the loser's key space, the already-staged files are
        re-published against the new head with zero re-read/re-write;
        only an actual data overlap forces the full re-merge retry —
        so a concurrent writer's rows are merged, never silently
        dropped (the lost-update case of plain last-writer-wins
        parquet). Returns the committed version; `last_merge_info`
        records what the commit did (rewritten/carried file counts,
        whether a rebase happened) for observability and tests.

        ``updates`` is persisted through ``caching.track_persist``, so
        the caller's ``tracked_scope`` (a sink micro-batch is one)
        releases it; an ``updates`` the caller persisted is read as-is
        and never released here."""
        from pyspark.sql import functions as F

        from filesystemagent_spark.caching import track_persist

        spark = updates.sparkSession
        # The updates plan is executed several times per attempt (key
        # probe, anti-join, data write, optional change images) and
        # again on every CAS retry — persist it once. The enclosing
        # tracked_scope (a sink's micro-batch) or the registry drain
        # releases it; a batch the caller already persisted is used
        # as-is and stays the caller's to release.
        updates = track_persist(updates)
        for _attempt in range(max_retries):
            base = self.latest_version()
            if base == 0:
                try:
                    v = self.init(updates, app)
                    self.last_merge_info = {
                        "base": 0, "rewritten": 0, "carried": 0, "rebased": False,
                    }
                    return v
                except CommitConflict:
                    _conflict_backoff(_attempt)
                    continue
            m = self._read_manifest(base)
            probe = _merge_probe(updates, key_cols)
            if any(p == ("empty",) for p in probe.values()):
                # zero update rows — the merge is a no-op, don't burn a
                # version rewriting the table into itself
                self.last_merge_info = {
                    "base": base, "rewritten": 0,
                    "carried": self._manifest_n_files(m), "rebased": False,
                }
                return base
            ddl = self._evolved_ddl(m["schema_ddl"], updates)
            touched, carried, carried_stats, reused, _ = self._split_files(
                m, lambda per: _file_overlaps_probe(per, probe)
            )
            n_carried = len(carried) + sum(s["n_files"] for s in reused)
            cols = ddl_schema(ddl).fieldNames()
            # carried/touched files may predate newly-added columns:
            # the parquet reader fills schema columns missing from a
            # file with nulls, so reading with the EVOLVED schema is
            # exact. Updates may likewise omit existing columns
            # (partial-column upsert) — allowMissingColumns nulls
            # them, matching MERGE's whole-row-replace semantics.
            # tombstone-aware: an earlier MoR delete's rows must
            # not resurrect through the rewrite (evolved schema
            # fills new columns null, same as the plain read did)
            changes = None
            if change_feed:
                # CDF (Delta change-feed recipe): the UPDATE BATCH itself,
                # schema-aligned, staged ONCE at write time — the files
                # serve BOTH as the 'upsert' change images and as the
                # batch's data files (the sharing update_where(mode='mor')
                # already does; exact images with no read-time diffing).
                # It also stages UPDATE PRE-IMAGES (the old rows whose keys
                # the batch replaces, Delta's update_preimage): without
                # them an incremental consumer cannot maintain subtractive
                # state (SUM/COUNT deltas need the value being replaced).
                # Files not in `touched` provably hold no update key, so
                # the key-matched rows of the touched scan ARE the
                # complete pre-image set.
                batch_aligned = empty_frame(spark, ddl).unionByName(
                    updates, allowMissingColumns=True
                ).select(*cols)
                if touched:
                    # ONE write job stages all three file sets: the
                    # batch rows ('upsert' images AND the batch's data
                    # files), the touched-file rows whose key matches
                    # the batch ('update_preimage' images), and the
                    # rest ('keep' — the rewritten data). Previously
                    # the batch images were their own write job and the
                    # touched scan a second (guide §2.4/§1.2: same
                    # bytes, one fewer job + commit cycle — a
                    # maintenance loop pays this per micro-batch).
                    hit = "__txhit__"
                    for reserved in (hit, "__txpart__"):
                        if reserved in cols:
                            raise ValueError(
                                f"column name {reserved!r} is reserved for "
                                "TxTable merge staging — rename the column"
                            )
                    current = self._apply_tombstones(spark, m, touched, ddl=ddl)
                    keys = (
                        updates.select(*key_cols)
                        .distinct()
                        .withColumn(hit, F.lit(True))
                    )
                    tagged = current.join(keys, key_cols, "left").select(
                        *cols,
                        F.when(F.col(hit).isNotNull(), F.lit("pre"))
                        .otherwise(F.lit("keep"))
                        .alias("__txpart__"),
                    ).unionByName(
                        batch_aligned.select(
                            *cols, F.lit("upsert").alias("__txpart__")
                        )
                    )
                    sides, new_ddl = self._write_data_parts(
                        tagged, F.col("__txpart__"),
                        ("keep", "pre", "upsert"), cols,
                    )
                    ch_files = sides["upsert"]
                    parts = [
                        {"files": ch_files, "type": "upsert"},
                        {"files": sides["pre"], "type": "update_preimage"},
                    ]
                    new_files = sides["keep"] + ch_files
                else:
                    ch_files, new_ddl = self._write_data(batch_aligned)
                    parts = [{"files": ch_files, "type": "upsert"}]
                    new_files = ch_files
                changes = {"parts": parts}
            else:
                if touched:
                    current = self._apply_tombstones(spark, m, touched, ddl=ddl)
                    keep = current.join(
                        updates.select(*key_cols).distinct(), key_cols, "left_anti"
                    )
                    merged = keep.unionByName(
                        updates, allowMissingColumns=True
                    ).select(*cols)
                else:
                    one_sided = empty_frame(spark, ddl).unionByName(
                        updates, allowMissingColumns=True
                    )
                    merged = one_sided.select(*cols)
                new_files, new_ddl = self._write_data(merged)
            self._check_constraints(spark, new_files)
            kw = {"reuse_segments": reused} if reused else {}
            try:
                self._try_commit(
                    base + 1, carried + new_files, new_ddl, app,
                    stats=carried_stats, changes=changes,
                    new_dirs=_dirs_of(new_files),
                    tombstones=_pruned_tombstones(
                        m.get("tombstones") or [], set(touched)
                    ),
                    **kw,
                )
                self.last_merge_info = {
                    "base": base, "rewritten": len(touched),
                    "carried": n_carried, "rebased": False,
                }
                return base + 1
            except CommitConflict:
                v = self._try_rebase(
                    base, touched, new_files, new_ddl, probe, app, changes
                )
                if v is not None:
                    self.last_merge_info = {
                        "base": base, "rewritten": len(touched),
                        "carried": n_carried, "rebased": True,
                    }
                    return v
                _conflict_backoff(_attempt)
                continue  # overlap with the winner — re-merge on its snapshot
        raise CommitConflict(f"gave up after {max_retries} retries")

    def delete_where(
        self,
        spark: SparkSession,
        where: list[tuple[str, str, object]],
        max_retries: int = 10,
        change_feed: bool = False,
        mode: str = "cow",
        app: dict | None = None,
    ) -> int:
        """Row-level DELETE: same predicate grammar as `read(where=...)`
        — conjunctive [(col, op, value)], op in {=, !=, <, <=, >, >=, in, isnull, notnull}
        (`in` takes a list of scalars).
        A delete that provably touches no file commits nothing and
        returns the current version. Loses CAS conflicts by retrying
        against the fresh snapshot (a concurrent merge's rows are
        re-examined, never blindly dropped).

        ``mode='cow'`` (default, copy-on-write): rewrite only the files
        whose manifest stats say they MAY contain a matching row,
        keeping their non-matching rows; every other file carries
        forward verbatim (stats included).

        ``mode='mor'`` (merge-on-read, the Iceberg-v2 /
        deletion-vector shape): rewrite NOTHING. The commit records a
        TOMBSTONE {predicate, explicit stats-pruned file list}; readers
        apply it as an anti-filter on exactly those files
        (`_apply_tombstones`), new files are never covered (a
        re-inserted matching row survives — the same scoping real
        delete files have), merges that rewrite a covered file prune it
        out of the tombstone, and the next compact materializes
        everything. A 1-row delete in a 1 GB file costs one manifest
        commit instead of a 1 GB rewrite; the price is the read-side
        filter until compaction (and, while tombstones exist, full
        scans plan from the explicit file list instead of the
        dir-grouped fast path). `last_delete_info` records the choice.
        With ``change_feed=True`` the delete images are computed by
        SCANNING the covered files (applying any earlier tombstones so
        already-deleted rows are not re-reported) — read-only, no
        rewrite."""
        if not where:
            raise ValueError("delete_where requires at least one predicate")
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown delete mode: {mode!r} (cow|mor)")
        _check_ops(where)
        from pyspark.sql import functions as F

        for _attempt in range(max_retries):
            base = self.latest_version()
            if base == 0:
                raise ValueError(f"table {self.path} has no committed snapshot")
            m = self._read_manifest(base)
            prepped = _prep_dnf(where)  # once, not per file
            touched, carried, carried_stats, reused, touched_stats = (
                self._split_files(
                    m, lambda per: _prepped_may_match(per, prepped)
                )
            )
            if not touched:
                self.last_delete_info = {
                    "mode": mode, "touched": 0, "rewritten": 0,
                }
                if app is not None:
                    # the caller wants the commit RECORDED (e.g. an
                    # exactly-once sink's batch_id stamp): a silent
                    # no-op would leave the batch unstamped and replay
                    # it on every restart — publish an app-only commit
                    return self.commit_app(app)
                return base  # stats prove nothing matches — no-op
            tbs = m.get("tombstones") or []
            changes = None
            new_files: list[str] | None = None
            if change_feed or mode == "cow":
                # the covered files under EXISTING tombstones: both the
                # rows a COW rewrite keeps and the delete images must
                # not see rows an earlier MoR delete already removed.
                # (A feed-less MoR delete never builds this scan — the
                # headline metadata-only path stays metadata-only.)
                scan = self._apply_tombstones(spark, m, touched)
            if change_feed and mode == "cow":
                # ONE scan of the touched files: matching rows are the
                # delete images, the rest are the rewritten data files
                # — previously the images pass and the keep pass each
                # re-read every touched file (guide §2.4).
                new_files, ch_files, _ = self._write_data_split(
                    scan,
                    F.coalesce(_where_cond(where), F.lit(False)),
                    scan.columns,
                )
                changes = {"files": ch_files, "type": "delete"}
            elif change_feed:
                # delete images: the rows being removed, staged at write
                # time like the merge CDF (MoR: read-only, no rewrite)
                ch_files, _ = self._write_data(
                    scan.filter(F.coalesce(_where_cond(where), F.lit(False)))
                )
                changes = {"files": ch_files, "type": "delete"}
            kw = {"reuse_segments": reused} if reused else {}
            if mode == "mor":
                new_tbs = tbs + [
                    {"where": _json_where(where), "files": list(touched)}
                ]
                try:
                    self._try_commit(
                        base + 1, carried + touched, m["schema_ddl"],
                        app={
                            "deleted_where": _json_where(where),
                            "mor": True,
                            **(app or {}),
                        },
                        stats={**carried_stats, **touched_stats},
                        changes=changes, tombstones=new_tbs, **kw,
                    )
                    self.last_delete_info = {
                        "mode": "mor", "touched": len(touched), "rewritten": 0,
                    }
                    return base + 1
                except CommitConflict:
                    _conflict_backoff(_attempt)
                    continue
            if new_files is None:  # feed-less CoW — single keep pass
                keep = _delete_keep_filter(scan, where)
                new_files, _ = self._write_data(keep)
            try:
                self._try_commit(
                    base + 1, carried + new_files, m["schema_ddl"],
                    app={"deleted_where": _json_where(where), **(app or {})},
                    stats=carried_stats, changes=changes,
                    new_dirs=_dirs_of(new_files),
                    tombstones=_pruned_tombstones(tbs, set(touched)), **kw,
                )
                self.last_delete_info = {
                    "mode": "cow", "touched": len(touched),
                    "rewritten": len(touched),
                }
                return base + 1
            except CommitConflict:
                _conflict_backoff(_attempt)
                continue
        raise CommitConflict(f"gave up after {max_retries} retries")

    def commit_app(self, app: dict, max_retries: int = 10) -> int:
        """Publish a new version with IDENTICAL content (files,
        segments, stats, tombstones, bucketing all carried verbatim)
        and the given app metadata — the exactly-once sinks' stamp for
        a micro-batch whose DML no-oped (a delete whose stats prove
        nothing matches, with no post-image rows): without a recorded
        commit the batch would replay on every stream restart.

        Marked ``app_only`` so the change feed treats it like a
        compaction (no logical change, consumers skip it instead of
        failing the gap check)."""
        for _attempt in range(max_retries):
            base = self.latest_version()
            if base == 0:
                raise ValueError(f"table {self.path} has no committed snapshot")
            m = self._read_manifest(base)
            kw = {}
            if "segments" in m:
                kw["reuse_segments"] = m["segments"]
                files: list[str] = m.get("files", [])
            else:
                files = m["files"]
            try:
                self._try_commit(
                    base + 1, files, m["schema_ddl"],
                    app={**app, "app_only": True},
                    stats=m.get("stats", {}),
                    census_base=m.get("dirs_created", {}),
                    bucketing=m.get("bucketing"),
                    tombstones=m.get("tombstones"),
                    **kw,
                )
                return base + 1
            except CommitConflict:
                _conflict_backoff(_attempt)
                continue
        raise CommitConflict(f"gave up after {max_retries} retries")

    def delete_keys(
        self,
        keys_df: DataFrame,
        key_cols: list[str],
        max_retries: int = 10,
        change_feed: bool = False,
        mode: str = "mor",
        app: dict | None = None,
    ) -> int:
        """Row-level DELETE by KEY SET:  DELETE FROM t WHERE (key_cols)
        IN (SELECT key_cols FROM keys_df)  — the form whose key set is
        a DataFrame that never rides through the driver, unlike
        `delete_where((k, 'in', [..]))` whose list lives in Python and
        in manifest JSON. This is the Iceberg equality-delete-file
        shape: the distinct keys are staged as a PARQUET SIDE FILE and
        the tombstone references it, so one commit can delete 10^8
        keys with O(1) driver memory and a manifest that stays small.

        ``mode='mor'`` (default): no data rewrite — the commit records
        {keyfiles, key_cols, covered files} and readers LEFT ANTI JOIN
        the covered files against the side file (`_apply_tombstones`).
        Covered files are stats-pruned with the same probe a merge
        uses (distinct values when the key set is narrow, min/max
        range when wide), so a keyed delete on a clustered table
        covers only the overlapping files. ``mode='cow'`` rewrites the
        covered files minus the keyed rows instead.

        Null keys in `keys_df` match nothing (SQL IN semantics: a null
        comparison keeps the row); NaN float keys DO match NaN rows
        (Spark join equality treats NaN = NaN). An EMPTY key set is a
        no-op. Like `delete_where`, a no-op with ``app`` still
        publishes an app-only commit so exactly-once stamps are never
        lost; `last_delete_info` records what happened."""
        if not key_cols:
            raise ValueError("delete_keys requires at least one key column")
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown delete mode: {mode!r} (cow|mor)")
        if self.latest_version() == 0:
            # fail like the other DML verbs BEFORE staging anything —
            # otherwise the key side file lands as data/ litter under a
            # table that was never initialized (re-checked in the CAS
            # loop: a table can't be un-initialized, so this is the
            # only uninitialized path)
            raise ValueError(f"table {self.path} has no committed snapshot")
        from pyspark.sql import functions as F

        # Stage the distinct key set ONCE, outside the CAS retry loop
        # (immutable once written; a lost CAS replans file coverage,
        # never the keys). _write_data drops 0-row part files, so an
        # empty key set stages no files at all. NULL keys drop here:
        # they match nothing (the documented SQL IN rule), and left in
        # they would poison the pruning probe into covering EVERY file
        # with the tombstone.
        spark = keys_df.sparkSession
        keyfiles, _ = self._write_data(
            keys_df.select(*key_cols).na.drop().distinct()
        )
        if not keyfiles:
            self.last_delete_info = {"mode": mode, "touched": 0, "rewritten": 0}
            if app is not None:
                return self.commit_app(app)
            return self.latest_version()
        # probe from the STAGED side file — re-reading the tiny staged
        # parquet beats re-executing the caller's (possibly expensive)
        # keys plan a second time
        staged_keys = spark.read.parquet(*keyfiles)
        probe = _merge_probe(staged_keys, key_cols)
        for _attempt in range(max_retries):
            base = self.latest_version()
            if base == 0:
                raise ValueError(f"table {self.path} has no committed snapshot")
            m = self._read_manifest(base)
            touched, carried, carried_stats, reused, touched_stats = (
                self._split_files(
                    m, lambda per: _file_overlaps_probe(per, probe)
                )
            )
            if not touched:
                self.last_delete_info = {
                    "mode": mode, "touched": 0, "rewritten": 0,
                }
                if app is not None:
                    return self.commit_app(app)
                return base
            tbs = m.get("tombstones") or []
            changes = None
            new_files: list[str] | None = None
            if change_feed or mode == "cow":
                scan = self._apply_tombstones(spark, m, touched)
                # USING semi/anti joins move the join keys to the
                # front; staged files must keep schema_ddl order
                cols = ddl_schema(m["schema_ddl"]).fieldNames()
            if change_feed and mode == "cow":
                # ONE scan of the touched files: keyed rows are the
                # delete images, the rest are the rewritten data files
                # (previously a semi-join pass AND an anti-join pass
                # each re-read every touched file — guide §2.4)
                hit = "__txhit__"
                marked = scan.join(
                    staged_keys.withColumn(hit, F.lit(True)),
                    key_cols,
                    "left",
                )
                new_files, ch_files, _ = self._write_data_split(
                    marked, F.col(hit).isNotNull(), cols
                )
                changes = {"files": ch_files, "type": "delete"}
            elif change_feed:
                ch_files, _ = self._write_data(
                    scan.join(staged_keys, key_cols, "left_semi").select(*cols)
                )
                changes = {"files": ch_files, "type": "delete"}
            kw = {"reuse_segments": reused} if reused else {}
            if mode == "mor":
                new_tbs = tbs + [
                    {"keyfiles": keyfiles, "key_cols": list(key_cols),
                     "files": list(touched)}
                ]
                try:
                    self._try_commit(
                        base + 1, carried + touched, m["schema_ddl"],
                        app={
                            "deleted_keys": list(key_cols),
                            "mor": True,
                            **(app or {}),
                        },
                        stats={**carried_stats, **touched_stats},
                        changes=changes, tombstones=new_tbs, **kw,
                    )
                    self.last_delete_info = {
                        "mode": "mor", "touched": len(touched), "rewritten": 0,
                    }
                    return base + 1
                except CommitConflict:
                    _conflict_backoff(_attempt)
                    continue
            if new_files is None:  # feed-less CoW — single keep pass
                keep = scan.join(
                    staged_keys, key_cols, "left_anti"
                ).select(*cols)
                new_files, _ = self._write_data(keep)
            try:
                self._try_commit(
                    base + 1, carried + new_files, m["schema_ddl"],
                    app={"deleted_keys": list(key_cols), **(app or {})},
                    stats=carried_stats, changes=changes,
                    new_dirs=_dirs_of(new_files),
                    tombstones=_pruned_tombstones(tbs, set(touched)), **kw,
                )
                self.last_delete_info = {
                    "mode": "cow", "touched": len(touched),
                    "rewritten": len(touched),
                }
                return base + 1
            except CommitConflict:
                _conflict_backoff(_attempt)
                continue
        raise CommitConflict(f"gave up after {max_retries} retries")

    def update_where(
        self,
        spark: SparkSession,
        where: list[tuple[str, str, object]],
        set_exprs: dict[str, object],
        max_retries: int = 10,
        change_feed: bool = False,
        mode: str = "cow",
        app: dict | None = None,
    ) -> int:
        """Row-level UPDATE:  UPDATE t SET col = expr, ... WHERE pred —
        the DML verb between MERGE (needs the new rows precomputed and
        keyed) and DELETE. Same predicate grammar as read/delete;
        ``set_exprs`` maps column -> Column or SQL expression string,
        evaluated against the row's OLD values (standard SQL UPDATE:
        `{"v": "v * 2"}` doubles, `{"a": "b", "b": "a"}` swaps).

        ``mode='cow'`` (default, copy-on-write) with stats pruning:
        only files that MAY contain a matching row are read (through
        any MoR tombstones — deleted rows can't resurrect as updates)
        and rewritten with the transform applied to matching rows;
        everything else carries verbatim, stats included.

        ``mode='mor'`` (merge-on-read): the matched rows' OLD versions
        die via a predicate TOMBSTONE over the covered files (exactly
        the delete-MoR mechanism) and their transformed POST-IMAGES
        append as new files — a 1-row update in a 1 GB file costs the
        matched rows' write, not the file rewrite. Post-image files
        are never tombstone-covered (per-file scoping), so updated
        rows survive even when they still match the predicate; the
        next merge/compact/materialize folds everything down.

        Null-valued predicates leave the row UNCHANGED (SQL
        semantics). Assignments cast back to the column's existing
        type — UPDATE never evolves the schema (evolve via
        merge_into). Unknown columns raise.

        ``change_feed=True`` stages `update_preimage` (the matched old
        rows) and `upsert` (their transformed post-images) — the same
        two-part shape merge_into emits, so every incremental consumer
        (agg sink, join-view sink) handles an UPDATE commit unchanged.
        A provably-no-op update commits nothing — unless ``app`` is
        given (exactly-once stamp discipline, like delete)."""
        if not where:
            raise ValueError("update_where requires at least one predicate")
        if not set_exprs:
            raise ValueError("update_where requires at least one assignment")
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown update mode: {mode!r} (cow|mor)")
        _check_ops(where)
        from pyspark.sql import Column
        from pyspark.sql import functions as F

        # validate BEFORE the retry loop: a bad assignment must raise
        # unconditionally, not only when stats say some file matches
        if not all(isinstance(e, (str, Column)) for e in set_exprs.values()):
            raise ValueError("set_exprs values must be Column or SQL string")

        for _attempt in range(max_retries):
            base = self.latest_version()
            if base == 0:
                raise ValueError(f"table {self.path} has no committed snapshot")
            m = self._read_manifest(base)
            schema = ddl_schema(m["schema_ddl"])
            cols = [f.name for f in schema]
            types = {f.name: f.dataType for f in schema}
            unknown = sorted(set(set_exprs) - set(cols))
            if unknown:
                raise ValueError(
                    f"update_where assigns unknown column(s) {unknown}; "
                    f"table columns: {cols}"
                )
            prepped = _prep_dnf(where)  # once, not per file
            touched, carried, carried_stats, reused, touched_stats = (
                self._split_files(
                    m, lambda per: _prepped_may_match(per, prepped)
                )
            )
            if not touched:
                self.last_update_info = {
                    "mode": mode, "touched": 0, "rewritten": 0,
                }
                if app is not None:
                    return self.commit_app(app)
                return base
            scan = self._apply_tombstones(spark, m, touched)
            cond = F.coalesce(_where_cond(where), F.lit(False))
            assigned = {
                c: (F.expr(e) if isinstance(e, str) else e).cast(types[c])
                for c, e in set_exprs.items()
            }

            def _post_select(src: DataFrame) -> DataFrame:
                return src.select(
                    *[
                        assigned[c].alias(c) if c in assigned else F.col(c)
                        for c in cols
                    ]
                )

            changes = None
            keep_files: list[str] | None = None
            if change_feed:
                if mode == "cow":
                    # ONE scan of the touched files: matching rows are
                    # the pre-images, the rest are the kept data rows —
                    # previously the pre pass, the post pass and the
                    # whole-file rewrite EACH re-read every touched
                    # file (3 full passes → 1 full + 1 matched-only).
                    keep_files, pre_files, _ = self._write_data_split(
                        scan, cond, cols
                    )
                else:
                    pre_files, _ = self._write_data(scan.filter(cond))
                # post-images from the JUST-WRITTEN pre-image files: the
                # transform is a pure row function of the old values, so
                # re-reading the matched rows (small) replaces a second
                # full scan of the touched files.
                pre_df = (
                    spark.read.schema(m["schema_ddl"]).parquet(*pre_files)
                    if pre_files
                    else empty_frame(spark, m["schema_ddl"])
                )
                post_files, _ = self._write_data(_post_select(pre_df))
                changes = {
                    "parts": [
                        {"files": post_files, "type": "upsert"},
                        {"files": pre_files, "type": "update_preimage"},
                    ]
                }
            app_meta = {
                "updated_where": _json_where(where),
                "updated_cols": sorted(set_exprs),
                **({"mor": True} if mode == "mor" else {}),
                **(app or {}),
            }
            tbs = m.get("tombstones") or []
            kw = {"reuse_segments": reused} if reused else {}
            if mode == "mor":
                # the matched rows' OLD versions die via a predicate
                # tombstone over the covered files; the transformed
                # post-images append as NEW files (never covered — the
                # per-file scoping that lets still-matching post rows
                # survive). Feed post-image files double as the data
                # files when the feed staged them (identical content).
                if changes is not None:
                    new_files = list(changes["parts"][0]["files"])
                else:
                    new_files, _ = self._write_data(
                        _post_select(scan.filter(cond))
                    )
                self._check_constraints(spark, new_files)
                try:
                    self._try_commit(
                        base + 1, carried + touched + new_files,
                        m["schema_ddl"], app=app_meta,
                        stats={**carried_stats, **touched_stats},
                        changes=changes, new_dirs=_dirs_of(new_files),
                        tombstones=tbs + [
                            {"where": _json_where(where),
                             "files": list(touched)}
                        ],
                        **kw,
                    )
                    self.last_update_info = {
                        "mode": "mor", "touched": len(touched), "rewritten": 0,
                    }
                    return base + 1
                except CommitConflict:
                    _conflict_backoff(_attempt)
                    continue
            if keep_files is not None:
                # feed CoW: the split pass above already produced the
                # kept rows; the rewritten table is keep + post-images
                # (identical row multiset to the old whole-file rewrite)
                new_files = keep_files + post_files
            else:
                rewritten = scan.select(
                    *[
                        F.when(cond, assigned[c]).otherwise(F.col(c)).alias(c)
                        if c in assigned
                        else F.col(c)
                        for c in cols
                    ]
                )
                new_files, _ = self._write_data(rewritten)
            self._check_constraints(spark, new_files)
            try:
                self._try_commit(
                    base + 1, carried + new_files, m["schema_ddl"],
                    app=app_meta,
                    stats=carried_stats, changes=changes,
                    new_dirs=_dirs_of(new_files),
                    tombstones=_pruned_tombstones(tbs, set(touched)),
                    **kw,
                )
                self.last_update_info = {
                    "mode": "cow",
                    "touched": len(touched), "rewritten": len(touched),
                }
                return base + 1
            except CommitConflict:
                _conflict_backoff(_attempt)
                continue
        raise CommitConflict(f"gave up after {max_retries} retries")

    # -- CHECK constraints (Delta `ALTER TABLE ADD CONSTRAINT` parity) --

    def _constraints_path(self) -> str:
        return os.path.join(self.manifest_dir, "constraints.json")

    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints: name -> SQL boolean expression."""
        try:
            with open(self._constraints_path(), encoding="utf-8") as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {}

    def add_constraint(self, spark: SparkSession, name: str, expr: str) -> None:
        """ADD CONSTRAINT name CHECK (expr): validates the CURRENT
        snapshot first (a constraint existing data violates is refused,
        the Delta rule), then every subsequent write validates its
        staged rows and fails the commit on violation. SQL CHECK
        semantics: a row violates only when the expression is FALSE —
        NULL passes (constrain nullability with `col IS NOT NULL`).

        Table-level, not snapshot-level: constraints live beside the
        manifests and apply to all future writes regardless of which
        snapshot a reader pins (time travel still sees old data that
        predates the constraint). Concurrent add/drop is last-writer-
        wins — constraint DDL is an administrative op, not a data
        race."""
        v = self.latest_version()
        if v:
            from pyspark.sql import functions as F

            bad = (
                self.read(spark)
                .filter(~F.coalesce(F.expr(expr), F.lit(True)))
                .count()
            )
            if bad:
                raise ValueError(
                    f"cannot add constraint {name!r}: {bad} existing "
                    f"row(s) violate CHECK ({expr})"
                )
        cons = self.constraints()
        cons[name] = expr
        os.makedirs(self.manifest_dir, exist_ok=True)
        tmp = self._constraints_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(cons, fh)
        os.replace(tmp, self._constraints_path())

    def drop_constraint(self, name: str) -> bool:
        cons = self.constraints()
        if name not in cons:
            return False
        del cons[name]
        tmp = self._constraints_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(cons, fh)
        os.replace(tmp, self._constraints_path())
        return True

    def _check_constraints(
        self, spark: SparkSession, files: list[str]
    ) -> None:
        """Validate freshly-staged TABLE CONTENT against the active
        CHECK constraints, before the manifest references it — a
        violating write raises and its staged files stay unreferenced
        (vacuumable litter, never visible data). Reads the just-written
        parquet instead of re-executing the caller's plan."""
        cons = self.constraints()
        if not cons or not files:
            return
        from pyspark.sql import functions as F

        df = spark.read.parquet(*files)
        checks = [
            F.count_if(~F.coalesce(F.expr(e), F.lit(True))).alias(n)
            for n, e in sorted(cons.items())
        ]
        row = df.agg(*checks).first()
        bad = {n: row[n] for n, _ in sorted(cons.items()) if row[n]}
        if bad:
            detail = ", ".join(
                f"{n}: {c} row(s) violate CHECK ({cons[n]})"
                for n, c in bad.items()
            )
            raise ValueError(f"constraint violation — {detail}")

    def row_count(self, version: int | None = None) -> int | None:
        """COUNT(*) from manifest metadata alone — zero data IO (the
        Delta/Iceberg trick: footer row counts ride the per-file
        stats, segment descriptors carry exact totals). Returns None
        when the count is not PROVABLE from metadata: live MoR
        tombstones (deleted-row counts are unknown until
        materialization), or history written before row stats existed
        — callers then fall back to read().count(). Never returns a
        wrong number."""
        v = self.latest_version() if version is None else version
        if v == 0:
            raise ValueError(f"table {self.path} has no committed snapshot")
        return self._row_count_of(self._read_manifest(v))

    @staticmethod
    def _row_count_of(m: dict) -> int | None:
        """row_count over an already-loaded manifest (the history CLI
        iterates manifests anyway — no second read per version)."""
        if m.get("tombstones"):
            return None
        if "segments" in m:
            total = 0
            for seg in m["segments"]:
                if seg.get("rows") is None:
                    return None  # legacy segment — unknown
                total += seg["rows"]
            return total
        stats = m.get("stats", {})
        total = 0
        for f in m["files"]:
            per = stats.get(f, {})
            if "__rows__" not in per:
                return None
            total += per["__rows__"][0]
        return total

    def tombstone_info(self, version: int | None = None) -> dict:
        """Read-amplification accounting for MoR tombstones: ``depth``
        (stacked tombstones — each adds an anti-filter/anti-join to
        the covered files' scan), ``covered_files`` (files that pay
        it), ``covered_frac`` of the snapshot's file count. Drives the
        maintenance policy: materialize when depth or coverage crosses
        the thresholds measured in SCALE.md."""
        v = self.latest_version() if version is None else version
        if v == 0:
            raise ValueError(f"table {self.path} has no committed snapshot")
        m = self._read_manifest(v)
        tbs = m.get("tombstones") or []
        covered = set().union(set(), *(set(t["files"]) for t in tbs))
        n = self._manifest_n_files(m)
        return {
            "depth": len(tbs),
            "covered_files": len(covered),
            "covered_frac": (len(covered) / n) if n else 0.0,
        }

    def materialize_tombstones(
        self, spark: SparkSession, max_retries: int = 10
    ) -> int:
        """Rewrite EXACTLY the tombstone-covered files with their
        deletes applied and drop every tombstone — the targeted
        maintenance action for MoR read amplification (a full
        compact() also materializes, but rewrites the whole snapshot).
        Cost is proportional to the COVERED files, not the table;
        uncovered segments carry as unopened descriptors (pruned by
        their dir census against the covered files' dirs). Layout-only
        commit: the change feed skips it like a compaction (the
        deletes already emitted their images at delete time). No-op
        when no tombstones exist."""
        for _attempt in range(max_retries):
            base = self.latest_version()
            if base == 0:
                raise ValueError(f"table {self.path} has no committed snapshot")
            m = self._read_manifest(base)
            tbs = m.get("tombstones") or []
            if not tbs:
                return base
            covered = set().union(*(set(t["files"]) for t in tbs))
            cov_dirs = {os.path.dirname(f) for f in covered}
            carried: list[str] = []
            carried_stats: dict[str, dict] = {}
            reused: list[dict] = []
            if "segments" in m:
                for seg in m["segments"]:
                    # a segment whose dir census is disjoint from the
                    # covered dirs provably holds no covered file —
                    # reuse it unopened (bounded driver cost)
                    if "dirs" in seg and not (set(seg["dirs"]) & cov_dirs):
                        reused.append(seg)
                        continue
                    for f, s in self._segment_rows(seg):
                        if f not in covered:
                            carried.append(f)
                            carried_stats[f] = s
            else:
                stats = m.get("stats", {})
                for f in m["files"]:
                    if f not in covered:
                        carried.append(f)
                        if f in stats:
                            carried_stats[f] = stats[f]
            rewritten = self._apply_tombstones(spark, m, sorted(covered))
            new_files, _ = self._write_data(rewritten)
            kw = {"reuse_segments": reused} if reused else {}
            try:
                self._try_commit(
                    base + 1, carried + new_files, m["schema_ddl"],
                    app={"compacted_from": base,
                         "materialized_tombstones": len(tbs)},
                    stats=carried_stats, new_dirs=_dirs_of(new_files),
                    **kw,
                )
                return base + 1
            except CommitConflict:
                _conflict_backoff(_attempt)
                continue
        raise CommitConflict(f"gave up after {max_retries} retries")

    def changes_for_version(self, version: int) -> list[dict] | None:
        """The single CDF resolution policy, shared by the batch reader
        (`table_changes`) and the streaming source
        (`sources/txchanges.py`) so the two can never disagree on the
        same table: returns a list of {'files', 'type', 'schema_ddl'}
        parts for a version's change images (a merge stages 'upsert'
        post-images AND 'update_preimage' old rows), None for a version
        with no logical change (layout-only compaction), and raises for
        a version committed without the feed — a gap an incremental
        consumer must never skip silently. Version 1 (init) is its own
        insert image. Single-part manifests from before update
        pre-images ({'files', 'type'}) normalize to a one-part list, so
        old tables replay unchanged."""
        m = self._read_manifest(version)
        ch = m.get("changes")
        if ch is None:
            if version == 1:
                ch = {"files": self._manifest_files(m), "type": "insert"}
            elif "compacted_from" in m.get("app", {}):
                return None  # layout-only commit — no logical change
            elif "app_only" in m.get("app", {}):
                return None  # metadata-only commit (commit_app stamp)
            else:
                raise ValueError(
                    f"version {version} was committed without change_feed=True "
                    f"— change feed is incomplete from here"
                )
        parts = ch["parts"] if "parts" in ch else [ch]
        return [
            {"files": list(p["files"]), "type": p["type"],
             "schema_ddl": m["schema_ddl"]}
            for p in parts
        ]

    def table_changes(
        self, spark: SparkSession, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """CHANGE FEED (Delta CDF semantics): the change images of each
        commit in [from_version, to_version], with `_change_type`
        ('insert' | 'upsert' | 'update_preimage' | 'delete') and
        `_commit_version` columns — the input for downstream
        incremental consumers (sync a derived table, invalidate caches,
        feed the incremental-dedup index) without ever re-diffing
        snapshots. 'upsert' rows are the post-images of the whole
        update batch (inserts included); 'update_preimage' rows are the
        old values the batch replaced — together they make subtractive
        state maintenance exact: new_agg = old_agg + f(inserts∪upserts)
        − f(preimages) − f(deletes).

        Change images are staged AT WRITE TIME by `merge_into`/
        `delete_where` with ``change_feed=True`` (the Delta recipe:
        exact images, no read-time diffing). Version 1 (init) is its
        own insert image; compactions carry no logical change and are
        skipped; any other version committed WITHOUT change_feed
        raises — an incremental consumer must never silently miss a
        change."""
        from pyspark.sql import functions as F

        def tagged(df: DataFrame, change_type: str, v: int) -> DataFrame:
            # one projection (one re-analysis) for both columns
            return df.withColumns({
                "_change_type": F.lit(change_type),
                "_commit_version": F.lit(v).cast("long"),
            })

        to_v = self.latest_version() if to_version is None else to_version
        latest_ddl = self._read_manifest(to_v)["schema_ddl"]
        out = None
        for v in range(from_version, to_v + 1):
            parts = self.changes_for_version(v)
            if parts is None:
                continue
            for ch in parts:
                if not ch["files"]:
                    continue
                df = tagged(
                    spark.read.schema(ch["schema_ddl"]).parquet(*ch["files"]),
                    ch["type"], v,
                )
                out = (
                    df if out is None
                    else out.unionByName(df, allowMissingColumns=True)
                )
        if out is None:
            out = tagged(empty_frame(spark, latest_ddl), "", 0)
        return out

    @staticmethod
    def _evolved_ddl(ddl: str, updates: DataFrame) -> str:
        """SCHEMA EVOLUTION (Delta mergeSchema semantics): update
        columns unknown to the table are APPENDED to the schema; rows
        in files written before the column existed read as null (the
        parquet reader's missing-column behavior, so no rewrite).
        A column present in both with a DIFFERENT type is a hard error
        — silent coercion corrupts; evolve types by explicit cast in
        the update batch."""
        cur = {f.name: f.dataType.simpleString()
               for f in ddl_schema(ddl).fields}
        added = []
        for f in updates.schema.fields:
            t = f.dataType.simpleString()
            if f.name not in cur:
                added.append(f"{f.name} {t}")
            elif cur[f.name] != t:
                raise ValueError(
                    f"schema conflict on column '{f.name}': table has "
                    f"{cur[f.name]}, updates have {t} — cast explicitly"
                )
        return ddl + (", " + ", ".join(added) if added else "")

    def _try_rebase(
        self,
        base: int,
        touched: list[str],
        new_files: list[str],
        ddl: str,
        probe: dict,
        app: dict | None,
        changes: dict | None = None,
    ) -> int | None:
        """After losing the CAS at `base + 1`: re-publish the ALREADY
        STAGED merge against the new head iff the winner's commits
        provably didn't interact with ours — (a) same schema, (b) every
        file we rewrote is still live at the head (nobody else rewrote
        or dropped it), and (c) none of the files added since `base`
        can contain any of our update keys (their manifest stats prove
        it; a stats-less new file means no proof → no rebase). Then the
        head's file list minus our touched files plus our staged files
        is exactly what a re-merge would produce, without re-reading or
        re-writing anything. Returns the committed version, or None if
        the proof fails and the caller must re-merge for real.

        Merge-on-read tombstones: our staged rewrites were produced
        reading BASE's tombstones; if the winner changed the tombstone
        set (a concurrent MoR delete), our replacement files may hold
        rows the winner deleted — refuse and re-merge (conservative:
        any tombstone difference refuses). An unchanged set carries
        forward pruned of our touched files, like the direct commit."""
        base_m = self._read_manifest(base)
        base_files = set(self._manifest_files(base_m))
        base_tbs = base_m.get("tombstones") or []
        touched_set = set(touched)
        # bounded like merge_into's own loop — under sustained
        # contention the loser falls back to the caller's retry budget
        # instead of spinning on the manifest pointer forever
        for _attempt in range(10):
            head = self.latest_version()
            w = self._read_manifest(head)
            if w["schema_ddl"] != ddl:
                return None
            # Rebase deliberately loads the head's FULL file/stats view
            # (segments included): it runs only on the lost-CAS path,
            # where proving non-interaction needs the complete added-
            # file set anyway. The hot planners never do this.
            head_files = self._manifest_files(w)
            if not touched_set <= set(head_files):
                return None  # winner rewrote one of our files — real conflict
            if (w.get("tombstones") or []) != base_tbs:
                return None  # winner changed the delete set — re-merge
            wstats = self._manifest_stats(w)
            added = [f for f in head_files if f not in base_files]
            if any(
                _file_overlaps_probe(wstats.get(f, {}), probe) for f in added
            ):
                return None  # winner may hold our keys — must re-merge
            files2 = [f for f in head_files if f not in touched_set] + new_files
            carried_stats = {f: wstats[f] for f in head_files if f in wstats}
            try:
                self._try_commit(
                    head + 1, files2, ddl, app, stats=carried_stats,
                    changes=changes, new_dirs=_dirs_of(new_files),
                    tombstones=_pruned_tombstones(base_tbs, touched_set),
                )
                return head + 1
            except CommitConflict:
                _conflict_backoff(_attempt)
                continue  # another commit landed — re-check against it
        return None  # retry budget exhausted — fall back to a full re-merge

    def compact(
        self,
        spark: SparkSession,
        target_files: int = 8,
        zorder_cols: list[str] | None = None,
        zorder_bits: int = 12,
        max_retries: int = 10,
        bucket_by: tuple[list[str], int] | None = None,
        small_file_bytes: int | None = None,
        target_bytes: int = 128 << 20,
        where: list[tuple[str, str, object]] | None = None,
    ) -> int:
        """OPTIMIZE: rewrite the current snapshot into `target_files`
        files — optionally Z-order clustered on `zorder_cols` so the
        manifest stats get tight per-file ranges on EVERY clustered
        column (sources/layout.zorder_key; composes with the stats
        skipping in `read(where=...)`). Logical content is identical;
        readers are never affected (snapshot isolation, and old
        versions stay time-travelable). Streaming/incremental writers
        leave many small files; at scale one task per ~128 MB beats
        one per micro-commit.

        Concurrency: compaction holds no lock — if a merge lands
        between our read and our commit, publishing the compacted
        files would silently DROP that merge, so the CAS loss simply
        retries the whole compaction on the fresh snapshot (always
        safe: the work is idempotent and content-free). Real formats
        make the same choice (Delta OPTIMIZE loses to concurrent
        writers, not vice versa).

        ``bucket_by=(cols, n_buckets)`` rewrites the snapshot
        BUCKET-CLUSTERED instead (see `read_bucketed`): two TxTables
        compacted with the same spec join Exchange-free on the bucket
        keys. The spec is recorded in the manifest and automatically
        invalidated by any later DML commit (which publishes without
        it) — the Delta/Iceberg clustered-until-touched contract.

        ``small_file_bytes`` switches to BOUNDED BIN-PACKING (round
        6): only files smaller than it are read and repacked toward
        ``target_bytes`` each; every other file — and every stats
        segment whose size envelope proves it all-large — carries into
        the new manifest verbatim, segments as unopened descriptors.
        A 100 TB table with a small-file tail after streaming ingest
        compacts in time proportional to the TAIL, not the table
        (the full rewrite above cannot survive that scale). Files from
        pre-size-stats manifests are conservatively repacked (one
        bin-pack refreshes their stats). Dirs whose files were all
        repacked keep their census entries until a full
        compact/overwrite prunes them — planning ignores unreferenced
        entries, so this only costs manifest bytes.
        `last_compact_info` records what happened.

        ``where`` (bin-pack mode only) scopes the rewrite to files
        whose stats MAY match the conjunctive predicates — Delta's
        OPTIMIZE WHERE: on a ts-keyed ingest table, pack yesterday's
        partition without ever touching cold history. Conservative
        like every stats test here (missing stats -> in scope)."""
        if bucket_by and zorder_cols:
            raise ValueError("bucket_by and zorder_cols are exclusive")
        if small_file_bytes is not None and (bucket_by or zorder_cols):
            raise ValueError(
                "small_file_bytes composes with neither bucket_by nor "
                "zorder_cols — bin-packing doesn't re-cluster carried files"
            )
        if where is not None and small_file_bytes is None:
            raise ValueError("where= requires small_file_bytes (bin-pack mode)")
        if where:
            _check_ops(where)
        for _attempt in range(max_retries):
            base = self.latest_version()
            if base == 0:
                raise ValueError(f"table {self.path} has no committed snapshot")
            if small_file_bytes is not None:
                m = self._read_manifest(base)

                prepped = _prep_dnf(where) if where else None

                def _is_small(per: dict) -> bool:
                    b = per.get("__bytes__")
                    # conservative: no size stats -> treat as small
                    if b is not None and b[0] >= small_file_bytes:
                        return False
                    return prepped is None or _prepped_may_match(per, prepped)

                small, carried, carried_stats, reused, small_stats = self._split_files(
                    m, _is_small
                )
                # tail size from the stats _split_files already loaded;
                # stat(2) only legacy files without size stats (on an
                # object store that is one round trip per file)
                total = sum(
                    small_stats[f]["__bytes__"][0]
                    if f in small_stats and "__bytes__" in small_stats[f]
                    else os.path.getsize(f)
                    for f in small
                )
                n_out = max(1, -(-total // target_bytes))  # ceil
                covered_small = set(small) & set().union(
                    set(), *(set(t["files"]) for t in m.get("tombstones") or [])
                )
                if len(small) <= n_out and not covered_small:
                    # Packing can't reduce the file count (covers both
                    # the <=1-file tail and the small_file_bytes >=
                    # target_bytes regime, where packed outputs stay
                    # under the threshold forever — without this guard
                    # every maintenance run would rewrite the same
                    # data and burn a version). Tombstone-covered small
                    # files override the guard: materializing them is
                    # itself worth the rewrite (a bin-pack-only
                    # maintenance loop must not leave a tombstone live
                    # forever).
                    self.last_compact_info = {
                        "rewritten": 0,
                        "carried": self._manifest_n_files(m),
                        "segments_reused": len(reused),
                        "noop": True,
                    }
                    return base  # nothing to pack — don't burn a version
                # tombstone-aware: repacked files materialize their
                # deletes (read applies them), so they prune out of the
                # carried tombstone lists below
                packed = self._apply_tombstones(spark, m, small).coalesce(
                    int(n_out)
                )
                new_files, ddl = self._write_data(packed)
                kw = {"reuse_segments": reused} if reused else {}
                try:
                    self._try_commit(
                        base + 1, carried + new_files, ddl,
                        app={"compacted_from": base, "bin_packed": True},
                        stats=carried_stats, new_dirs=_dirs_of(new_files),
                        tombstones=_pruned_tombstones(
                            m.get("tombstones") or [], set(small)
                        ),
                        **kw,
                    )
                    self.last_compact_info = {
                        "rewritten": len(small),
                        "carried": len(carried)
                        + sum(s["n_files"] for s in reused),
                        "segments_reused": len(reused),
                        "noop": False,
                    }
                    return base + 1
                except CommitConflict:
                    _conflict_backoff(_attempt)
                    continue  # a real write won — re-plan on its snapshot
            # No-op guard (the bin-pack branch has its own above): a
            # maintenance LOOP calls compact unconditionally, and
            # without this every cycle re-read and re-wrote the whole
            # snapshot, burning a version — which both churns layout
            # commits and invalidates every concurrent merge's base
            # snapshot (measured: a 0.5s-paced compact loop starved 6
            # DML writers into 100-retry aborts before this guard;
            # SCALE.md's contention table). The guard fires only
            # when the HEAD is itself a compaction product — the loop
            # shape — so a compact issued after any DML still commits
            # (several callers rely on that version bump): file count
            # at/below target, no tombstones to materialize, and the
            # head's own compaction recorded the requested clustering
            # (bucketing via the manifest spec, Z-order via the app
            # marker; any later DML replaces both).
            m_head = self._read_manifest(base)
            head_app = m_head.get("app") or {}
            if (
                "compacted_from" in head_app
                and self._manifest_n_files(m_head) <= target_files
                and not m_head.get("tombstones")
            ):
                clustered = (
                    (
                        bucket_by is not None
                        and (bk := m_head.get("bucketing")) is not None
                        and bk.get("cols") == list(bucket_by[0])
                        and bk.get("n") == bucket_by[1]
                    )
                    or (
                        zorder_cols is not None
                        and head_app.get("zorder") == list(zorder_cols)
                    )
                    or (bucket_by is None and zorder_cols is None)
                )
                if clustered:
                    self.last_compact_info = {
                        "rewritten": 0,
                        "carried": self._manifest_n_files(m_head),
                        "segments_reused": 0,
                        "noop": True,
                    }
                    return base
            df = self.read(spark, base)
            if bucket_by:
                cols, n_buckets = bucket_by
                files, ddl = self._write_data_bucketed(df, list(cols), n_buckets)
                # An empty snapshot stages zero bucket files; a spec
                # pointing at dir '' would make read_bucketed emit
                # CREATE TABLE ... LOCATION '' — commit WITHOUT the
                # spec instead, so read() serves the empty snapshot and
                # read_bucketed raises its designed not-clustered error.
                bucketing = (
                    {"cols": list(cols), "n": n_buckets,
                     "dir": os.path.dirname(files[0])}
                    if files else None
                )
                try:
                    self._try_commit(
                        base + 1, files, ddl, app={"compacted_from": base},
                        new_dirs=_dirs_of(files), census_base={},
                        bucketing=bucketing,
                    )
                    return base + 1
                except CommitConflict:
                    _conflict_backoff(_attempt)
                    continue
            if zorder_cols:
                from filesystemagent_spark.sources.layout import zorder_key

                df = (
                    zorder_key(df, zorder_cols, bits=zorder_bits)
                    .repartitionByRange(target_files, "_zkey")
                    .sortWithinPartitions("_zkey")
                    .drop("_zkey")
                )
            else:
                df = df.coalesce(target_files)
            files, ddl = self._write_data(df)
            app: dict = {"compacted_from": base}
            if zorder_cols:
                app["zorder"] = list(zorder_cols)  # no-op guard marker
            try:
                # census pruned to the rewrite's own dirs: keeps the
                # manifest's dirs_created O(live dirs) on long histories
                self._try_commit(
                    base + 1, files, ddl, app=app,
                    new_dirs=_dirs_of(files), census_base={},
                )
                return base + 1
            except CommitConflict:
                _conflict_backoff(_attempt)
                continue  # a real write won — recompact its snapshot
        raise CommitConflict(f"gave up after {max_retries} retries")

    def expire_versions(
        self, keep_last: int = 1, older_than_seconds: float | None = None
    ) -> list[int]:
        """Retention: drop manifests older than the newest `keep_last`
        versions. Expired versions stop being time-travelable; any
        data files no longer referenced by a SURVIVING manifest become
        vacuum()-able. Files a granular merge carried forward are
        still referenced by newer manifests and survive vacuum — only
        truly dead data is reclaimed. The current version can never
        expire.

        ``older_than_seconds`` adds the Delta-style TIME retention:
        a version expires only when it is BOTH beyond `keep_last` AND
        committed more than this many seconds ago — so
        `expire_versions(keep_last=1, older_than_seconds=7*86400)`
        keeps a week of time travel regardless of commit rate, and a
        burst of commits can never age history out early."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        latest = self.latest_version()
        cutoff = (
            time.time() - older_than_seconds
            if older_than_seconds is not None
            else None
        )
        expired = []
        for v in range(1, latest - keep_last + 1):
            p = self._manifest_path(v)
            if not os.path.exists(p):
                continue
            if cutoff is not None:
                try:
                    if self._read_manifest(v)["committed_at"] >= cutoff:
                        # committed_at is monotonically non-decreasing
                        # across versions, so every later candidate is
                        # also too young — stop instead of reading the
                        # rest of a long history's manifests
                        break
                except FileNotFoundError:
                    continue
            os.unlink(p)
            expired.append(v)
        return expired

    def vacuum(self, grace_seconds: float = 0.0) -> list[str]:
        """Delete data directories not referenced by ANY manifest
        (aborted stages, expired-version leftovers). Referenced
        directories are kept — time travel over surviving manifests
        stays valid.

        ``grace_seconds`` is the concurrent-writer guard: a writer
        STAGES data before its manifest exists, so a vacuum racing it
        would see the directory as unreferenced and delete data the
        imminent commit references (the same hazard Delta's VACUUM
        retention window exists for). Directories modified within the
        grace window are skipped; pass 0 only when no writer can be
        active (tests, single-writer maintenance)."""
        import shutil

        referenced: set[str] = set()
        live_segments: set[str] = set()
        # Segments are immutable and CARRIED verbatim across versions,
        # so a table with V versions sharing S segments reads each
        # segment ONCE (memoized by path), not O(V·S) times — without
        # this, vacuum on a long-history table re-parses the same
        # parquet file lists per version.
        seg_dirs: dict[str, set[str]] = {}

        def _dirs_of_segment(seg: dict) -> set[str]:
            p = seg["path"]
            if p not in seg_dirs:
                seg_dirs[p] = {
                    os.path.dirname(f) for f in self._segment_files(seg)
                }
            return seg_dirs[p]

        for v in range(1, self.latest_version() + 1):
            try:
                m = self._read_manifest(v)
            except FileNotFoundError:
                continue
            if "segments" in m:
                for seg in m["segments"]:
                    referenced |= _dirs_of_segment(seg)
                    live_segments.add(seg["path"])
            else:
                for f in m["files"]:
                    referenced.add(os.path.dirname(f))
            # change-feed images live in their own staged dirs and are
            # referenced ONLY by manifest['changes'] — forgetting them
            # here would let table maintenance destroy the feed that
            # table_changes/the stream source promise is gap-free
            ch = m.get("changes") or {}
            for part in ch.get("parts", [ch] if ch else []):
                for f in part.get("files", []):
                    referenced.add(os.path.dirname(f))
            # key-list tombstone side files (delete_keys): referenced
            # only by manifest['tombstones'][i]['keyfiles'] — dropping
            # them would silently RESURRECT the deleted rows on every
            # read of a still-live MoR snapshot
            for t in m.get("tombstones") or []:
                for f in t.get("keyfiles", []):
                    referenced.add(os.path.dirname(f))
        removed = []
        now = time.time()
        if os.path.isdir(self.data_dir):
            for d in os.listdir(self.data_dir):
                full = os.path.join(self.data_dir, d)
                if full in referenced:
                    continue
                try:
                    if now - os.path.getmtime(full) < grace_seconds:
                        continue  # possibly a commit in flight
                except OSError:
                    continue  # raced a concurrent cleanup — skip
                shutil.rmtree(full)
                removed.append(full)
        # stats segments orphaned by expired versions or lost-CAS
        # commits (segments are staged before the pointer CAS, like
        # data) — same grace window protects an in-flight commit's
        # just-written segments
        if os.path.isdir(self._segments_dir()):
            for name in os.listdir(self._segments_dir()):
                full = os.path.join(self._segments_dir(), name)
                if full in live_segments:
                    continue
                try:
                    if now - os.path.getmtime(full) < grace_seconds:
                        continue
                    os.unlink(full)
                except OSError:
                    continue  # raced a concurrent cleanup — skip
                removed.append(full)
        return sorted(removed)
