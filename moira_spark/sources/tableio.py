"""Snapshot-committed table IO — Iceberg-semantics emulation over parquet.

The north rule requires Iceberg tables with snapshot-based idempotent resume
(BASELINE.json:6,14).  This sandbox has no Iceberg jars and no network
(verified — SURVEY.md §7.6), so this module implements the same protocol on
plain parquet with an atomic JSON snapshot log, behind a thin interface so a
real Iceberg catalog is a drop-in replacement later:

    table_dir/
      data/run_id=<run>/part-*.parquet     (staged by Spark writers)
      _snapshots/v<N>.json                 (atomic commit records)

A snapshot lists the data directories (by run_id) that are part of the table
plus bookkeeping (row counts, idempotency keys).  Readers resolve the
highest v<N>.json and read only committed run dirs — a crashed writer leaves
an orphaned staging dir that no snapshot references, so re-running the same
run_id is idempotent: the orphan is overwritten, and commit happens once.
This is exactly Iceberg's optimistic snapshot protocol with run-directory
granularity instead of per-file manifests (sufficient here because each run
writes its own directory).  Snapshots also carry Iceberg-style column
metrics (zone maps): per-FILE min/max/null-count collected at commit, so
``read(filters=...)`` and ``merge`` skip every run dir none of whose files
can match, and ``read`` plans only the matching files of the runs it keeps —
manifest-level file skipping, the scan-side half of what makes a 100 TB
table queryable.

Concurrency (round 3): snapshot files are created with an atomic
link-if-absent (full content written to a temp file first, then os.link —
which fails with FileExistsError when the version already exists).  Every
writer (commit, compact, merge, rollback) publishes through one CAS loop
(``SnapshotTable._commit``): a writer that loses the race re-reads the
fresh snapshot and rebuilds its change on top of it, exactly Iceberg's
commit loop; the loser of a compact-vs-append race therefore re-folds the
appended rows instead of silently dropping them.
"""

from __future__ import annotations

import functools
import json
import math
import os
import tempfile
from dataclasses import asdict, dataclass, field, replace

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass
class Snapshot:
    version: int
    run_ids: list[str]
    committed_keys: list[str] = field(default_factory=list)
    row_counts: dict[str, int] = field(default_factory=dict)
    # Iceberg-style manifest column metrics (zone maps): per run_id, per
    # FILE basename, per column, {"min":…, "max":…, "nulls": n} for
    # prunable atomic types ({"u": true} for types stats cannot cover).  A
    # column absent from a file's dict was not in the run's schema at
    # commit time (schema evolution), so every row reads NULL there.
    # Collected by an exact Spark agg at commit (parquet footer string
    # min/max may be TRUNCATED by writers, which would make max-based
    # pruning unsound — so footers are not trusted).  A run is kept by a
    # filter when at least one of its files may match; with cluster_by
    # (sorted write) the files carry disjoint ranges and a point/range
    # query plans one file of N (Iceberg file-level manifest pruning).
    # A run without an entry (legacy snapshot) never prunes.
    file_stats: dict[str, dict] = field(default_factory=dict)
    # run_ids whose DATA was folded into a compaction rewrite: no longer
    # read, but their commit is still a fact — is_committed()/commit()
    # must keep treating them as done or a checkpoint-replayed micro-batch
    # would re-commit (and duplicate) after a compact().
    retired_run_ids: list[str] = field(default_factory=list)
    # Iceberg-style schema evolution: the table schema lives in the
    # snapshot METADATA (StructType JSON), not in parquet footers.  Readers
    # apply it explicitly, so runs committed before a column was added
    # read back with NULLs in the new column and no footer-merge scan ever
    # happens (mergeSchema=true reads every file's footer — wrong at 100 TB).
    schema_json: str | None = None
    # Iceberg-style EQUALITY-DELETE files (merge-on-read): each entry is
    # {"run": <delete-run-id>, "key_cols": [...], "applies_to": [run_ids]}.
    # The delete run dir holds only the key tuples; readers anti-join it
    # against exactly the runs listed in applies_to (the data files that
    # existed when the delete was written — Iceberg's sequence-number
    # scoping, made explicit).  compact() folds deletes into a rewrite and
    # clears this list; a MOR merge is O(update keys), never an
    # O(run-dir) rewrite.
    delete_files: list[dict] = field(default_factory=list)
    # What produced this snapshot: "append" (commit), "compact"
    # (data-identical rewrite), "merge" (logical rewrite), "rollback"
    # (state restore).  Drives
    # read_changes(): Iceberg's incremental scan consumes appends, skips
    # data-identical rewrites, and refuses logical rewrites.  None = legacy
    # snapshot written before the field existed (read_changes infers
    # conservatively from retired_run_ids growth).
    operation: str | None = "append"

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "run_ids": self.run_ids,
                "committed_keys": self.committed_keys,
                "row_counts": self.row_counts,
                "retired_run_ids": self.retired_run_ids,
                "schema_json": self.schema_json,
                "file_stats": self.file_stats,
                "operation": self.operation,
                "delete_files": self.delete_files,
            }
        )

    def schema(self) -> "StructType | None":
        """The table schema recorded in this snapshot (None for a legacy
        snapshot written before schemas were recorded)."""
        if self.schema_json is None:
            return None
        return StructType.fromJson(json.loads(self.schema_json))

    @staticmethod
    def from_json(s: str) -> "Snapshot":
        """Parse a snapshot record.  Keys this reader does not know are
        ignored — e.g. the run-level column metrics older writers also
        stored — so tables committed by earlier code still read, resume
        and commit."""
        d = json.loads(s)
        return Snapshot(
            version=d["version"],
            run_ids=d["run_ids"],
            committed_keys=d.get("committed_keys", []),
            row_counts=d.get("row_counts", {}),
            retired_run_ids=d.get("retired_run_ids", []),
            schema_json=d.get("schema_json"),
            file_stats=d.get("file_stats", {}),
            operation=d.get("operation"),
            delete_files=d.get("delete_files", []),
        )


_CAS_RETRIES = 10


class SnapshotConflictError(RuntimeError):
    """Another writer committed this snapshot version first (CAS lost)."""


def _evolve_schema(prev: "StructType | None", staged: "StructType") -> str:
    """Iceberg-style additive schema evolution: fields are matched by name,
    new fields append, and a same-name type change is refused (Iceberg only
    allows safe type promotions; this emulation allows none).  Returns the
    merged schema as StructType JSON for the snapshot record."""
    if prev is None:
        return staged.json()
    by_name = {f.name: f for f in prev.fields}
    merged = list(prev.fields)
    for f in staged.fields:
        old = by_name.get(f.name)
        if old is None:
            merged.append(f)
        elif old.dataType != f.dataType:
            raise ValueError(
                f"schema evolution rejected: column {f.name!r} changes type "
                f"{old.dataType.simpleString()} -> {f.dataType.simpleString()}"
            )
    return StructType(merged).json()


def _stats_kind(dt) -> "str | None":
    """How zone maps cover a type: "plain" for JSON-native totally-ordered
    atomics, "ts" for date/timestamp (serialized as ISO strings, whose
    lexicographic order is chronological), None for everything else
    (decimals, complex types — recorded as present-but-unprunable)."""
    from pyspark.sql.types import (
        BooleanType,
        DateType,
        DecimalType,
        NumericType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    if isinstance(dt, (StringType, BooleanType)) or (
        isinstance(dt, NumericType) and not isinstance(dt, DecimalType)
    ):
        return "plain"
    if isinstance(dt, (DateType, TimestampType, TimestampNTZType)):
        return "ts"
    return None


def _to_iso(v):
    """date/datetime -> ISO string (tz-aware normalized to UTC and stripped,
    so every stored bound lives in one naive-UTC domain — the session
    timezone is pinned UTC by session.py)."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


def _iso_full(v) -> "str | None":
    """Widen an ISO date ("YYYY-MM-DD") to its midnight timestamp — EXACT,
    not conservative: SQL comparisons cast a date to timestamp-at-midnight,
    so both bounds and literals land in one comparable string domain."""
    if v is None:
        return None
    s = _to_iso(v)
    if not isinstance(s, str):
        return v  # non-temporal literal: left for the TypeError keep-path
    return s if "T" in s else s + "T00:00:00"


def _stats_entry(mn, mx, nulls, kind: str = "plain", us=None) -> dict:
    if kind == "ts":
        ent = {"min": _to_iso(mn), "max": _to_iso(mx), "nulls": nulls, "ts": True}
        # epoch-micros twin of the ISO bounds, computed JVM-side via
        # unix_micros under the UTC-pinned session — the z-order probe
        # space.  Storing it at commit time removes every Python-side
        # naive-datetime interpretation (host-tz drift, ADVICE r5).
        if us is not None and us[0] is not None:
            ent["us"] = [us[0], us[1]]
        return ent
    nonfinite = any(
        isinstance(v, float) and not math.isfinite(v) for v in (mn, mx)
    )
    if nonfinite:  # NaN/inf bounds are not JSON-portable ordering proof
        return {"u": True}
    return {"min": mn, "max": mx, "nulls": nulls}


def _collect_stats(df: DataFrame) -> tuple[int, dict]:
    """One grouped agg pass over a staged run: per-FILE min/max/null-count
    for every stats-supported column (the per-file metrics an Iceberg
    writer emits into the manifest).  The collect is bounded by the run's
    FILE count, never rows.  Unsupported types record ``{"u": true}``
    (present-but-unprunable — distinct from ABSENT, which means the column
    was not in the run's schema at all).  Returns ``(rows, file_stats)``
    with file_stats keyed by file basename; a file without rows gets no
    entry (it holds nothing a filter could match)."""
    from urllib.parse import unquote, urlparse

    aggs = [F.count(F.lit(1)).alias("__n")]
    tracked = [
        (f0.name, _stats_kind(f0.dataType))
        for f0 in df.schema.fields
        if _stats_kind(f0.dataType) is not None
    ]
    for i, (name, kind) in enumerate(tracked):
        aggs.append(F.min(df[name]).alias(f"__mn_{i}"))
        aggs.append(F.max(df[name]).alias(f"__mx_{i}"))
        aggs.append(F.sum(df[name].isNull().cast("long")).alias(f"__nl_{i}"))
        if kind == "ts":
            # epoch-micros bounds in the exact domain the z-order probe
            # uses (unix_micros, session tz pinned UTC) — JVM-computed so
            # no host-local naive-datetime round-trip can shift them
            aggs.append(
                F.unix_micros(F.min(df[name]).cast("timestamp"))
                .alias(f"__us_mn_{i}")
            )
            aggs.append(
                F.unix_micros(F.max(df[name]).cast("timestamp"))
                .alias(f"__us_mx_{i}")
            )
    per_file = df.groupBy(F.input_file_name().alias("__f")).agg(*aggs).collect()
    rows = 0
    file_stats: dict[str, dict] = {}
    for r in per_file:
        rows += r["__n"]
        ent: dict[str, dict] = {}
        for i, (name, kind) in enumerate(tracked):
            ent[name] = _stats_entry(
                r[f"__mn_{i}"], r[f"__mx_{i}"], r[f"__nl_{i}"] or 0, kind,
                us=(r[f"__us_mn_{i}"], r[f"__us_mx_{i}"]) if kind == "ts"
                else None,
            )
        for f0 in df.schema.fields:
            if f0.name not in ent:
                ent[f0.name] = {"u": True}
        file_stats[os.path.basename(unquote(urlparse(r["__f"]).path))] = ent
    return rows, file_stats


_Z_BITS = 8  # 256 buckets/dim up to 7 dims; above that bits shrink so the
# interleave never reaches bigint's sign bit (see the cap in _zvalue)


def _zvalue(df: DataFrame, cols: "list[str]", bits: int = _Z_BITS,
            bounds: "dict[str, tuple] | None" = None):
    """Z-curve (Morton) ordering expression over ``cols``: bucket each
    column uniformly into ``2^bits`` cells between its min and max, then
    bit-interleave the bucket ids.  Pure JVM expressions — width_bucket +
    shifts inside codegen.

    Bounds come from ``bounds`` (``{col: (lo, hi)}`` floats in the same
    numeric space as the probe — see ``_zbounds_from_snapshot``) when the
    caller already knows them (compaction has the snapshot's zone maps);
    columns without provided bounds fall back to one min/max
    aggregation — an output-tiny but INPUT-full scan, worth skipping on a
    100 TB rewrite.

    Uniform cells, not quantiles: the z value only orders the write, so
    skew costs pruning selectivity on the hot range, never correctness.
    NULLs and degenerate (constant/empty) columns bucket to 0."""
    dtypes = dict(df.dtypes)
    nums = []
    for c in cols:
        t = dtypes[c]
        if t.startswith(("timestamp", "date")):
            nums.append(F.unix_micros(F.col(c).cast("timestamp")).cast("double"))
        elif t in ("string", "binary"):
            # order-preserving 8-byte-prefix ordinal: the leading bytes,
            # ZERO-PADDED to exactly 8, as a big-endian unsigned integer.
            # The padding is what makes it monotone: unpadded, 'aa' (2
            # bytes = 24929) ranks above 'b' (1 byte = 98) even though
            # 'aa' < 'b' lexicographically — equal widths make integer
            # order equal byte-wise order.
            b = F.rpad(
                F.substring(F.col(c).cast("binary"), 1, 8),
                8,
                F.lit(bytes(1)),
            )
            nums.append(
                F.coalesce(
                    F.conv(F.hex(b), 16, 10).cast("double"), F.lit(0.0)
                )
            )
        elif t.startswith(("array", "map", "struct")):
            raise ValueError(f"zorder: column {c!r} ({t}) is not orderable "
                             "numerically; z-order needs scalar keys")
        else:
            nums.append(F.col(c).cast("double"))
    # never interleave into bit 63: a set sign bit makes half the key
    # space sort NEGATIVE under bigint ordering, silently inverting the
    # Z curve — shrink per-dim resolution instead when dims are many
    bits = min(bits, 63 // len(nums))
    have: dict = dict(bounds or {})
    need = [i for i, c in enumerate(cols) if c not in have]
    if need:
        aggs = []
        for i in need:
            aggs += [F.min(nums[i]).alias(f"mn{i}"),
                     F.max(nums[i]).alias(f"mx{i}")]
        r = df.agg(*aggs).collect()[0]
        for i in need:
            have[cols[i]] = (r[f"mn{i}"], r[f"mx{i}"])
    nb = 1 << bits
    z = F.lit(0).cast("bigint")
    for i, e in enumerate(nums):
        mn, mx = have[cols[i]]
        if mn is None or mx is None or mx == mn:
            continue  # constant/empty dim contributes nothing to the order
        b = (
            F.width_bucket(e, F.lit(float(mn)), F.lit(float(mx)), F.lit(nb))
            - 1
        )
        b = F.greatest(F.lit(0), F.least(F.lit(nb - 1), F.coalesce(b, F.lit(0))))
        b = b.cast("bigint")
        for bit in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(b, bit).bitwiseAND(F.lit(1).cast("bigint")),
                    bit * len(nums) + i,
                )
            )
    return z


def _zbounds_from_snapshot(
    snap: "Snapshot", cols: "list[str]"
) -> "dict[str, tuple]":
    """Fold a snapshot's per-file zone maps into ``{col: (lo, hi)}`` in
    _zvalue's probe space (floats; timestamps as unix micros; strings as
    the 8-byte big-endian prefix ordinal).  Columns any file lacks stats
    for (or every column, when a run has no per-file stats) are omitted —
    _zvalue falls back to aggregating just those."""
    import datetime as _dt

    def to_probe(v, ts: bool):
        if ts:
            # fallback for pre-"us" snapshots: interpret the stored naive
            # wall clock as UTC — the same convention the unix_micros
            # probe applies under the UTC-pinned session, so the bound
            # cannot shift with the compacting host's local timezone
            # (ADVICE r5; new snapshots carry exact epoch micros instead)
            naive = _dt.datetime.fromisoformat(_iso_full(v))
            return naive.replace(tzinfo=_dt.timezone.utc).timestamp() * 1e6
        if isinstance(v, str):
            # must match the probe's ZERO-PADDED 8-byte prefix ordinal
            return float(
                int.from_bytes(v.encode("utf-8")[:8].ljust(8, b"\0"), "big")
            )
        return float(v)

    if any(r not in snap.file_stats for r in snap.run_ids):
        return {}
    out: dict = {}
    for c in cols:
        ents = [
            st.get(c) for r in snap.run_ids for st in snap.file_stats[r].values()
        ]
        if any(not e or e.get("u") for e in ents):
            continue  # unknown bounds somewhere: fall back to a scan
        spans = [
            # exact epoch-micros bounds recorded JVM-side at commit
            (float(e["us"][0]), float(e["us"][1])) if e.get("us")
            else (to_probe(e["min"], e.get("ts", False)),
                  to_probe(e["max"], e.get("ts", False)))
            for e in ents
            if e["min"] is not None  # all-NULL file: no non-null values
        ]
        if spans:
            out[c] = (min(a for a, _ in spans), max(b for _, b in spans))
    return out


# Filter ops whose predicate can never be satisfied by a NULL value (SQL
# three-valued logic): a run whose column has zero non-null values is
# provably empty under any of these.
_NONNULL_OPS = frozenset(
    {"=", "==", "<", "<=", ">", ">=", "in", "between", "is_not_null"}
)
_VALID_OPS = _NONNULL_OPS | {"is_null"}


def _normalize_filter(flt) -> tuple[str, str, object]:
    col, op = flt[0], flt[1]
    if op not in _VALID_OPS:
        raise ValueError(f"unknown filter op {op!r} (supported: {sorted(_VALID_OPS)})")
    return col, op, (flt[2] if len(flt) > 2 else None)


def _provably_empty(stats: dict, filters) -> bool:
    """True only when one file's zone-map ``stats`` PROVE none of its rows
    can satisfy the conjunctive ``filters``.  Anything unprovable keeps the
    file — pruning is an optimization; the residual filter re-applies exact
    semantics."""
    for flt in filters:
        col, op, val = _normalize_filter(flt)
        ent = stats.get(col)
        if ent is None:
            # Column absent from the file's schema at commit time: schema
            # evolution reads it back all-NULL, which no non-null-matching
            # predicate can satisfy.
            if op in _NONNULL_OPS:
                return True
            continue
        if ent.get("u"):
            continue
        mn, mx, nulls = ent.get("min"), ent.get("max"), ent.get("nulls", 0)
        if op == "is_null":
            if nulls == 0:
                return True
            continue
        if mn is None:  # zero non-null values in this file
            return True  # op is in _NONNULL_OPS here
        if op == "is_not_null":
            continue
        if ent.get("ts"):
            # temporal bounds are ISO strings; widen date-grain values on
            # BOTH sides to midnight timestamps so lexicographic order is
            # chronological across date/timestamp mixes (exact, since SQL
            # casts a date to its midnight timestamp)
            mn, mx = _iso_full(mn), _iso_full(mx)
            if op == "in":
                val = [_iso_full(v) for v in val]
            elif op == "between":
                val = tuple(_iso_full(v) for v in val)
            else:
                val = _iso_full(val)
        try:
            if op in ("=", "=="):
                if val < mn or val > mx:
                    return True
            elif op == "<":
                if mn >= val:
                    return True
            elif op == "<=":
                if mn > val:
                    return True
            elif op == ">":
                if mx <= val:
                    return True
            elif op == ">=":
                if mx < val:
                    return True
            elif op == "in":
                vals = list(val)
                if not vals or all(v < mn or v > mx for v in vals):
                    return True
            elif op == "between":
                lo, hi = val
                if hi < mn or lo > mx:
                    return True
        except TypeError:
            continue  # literal type incomparable with the stats — keep
    return False


def _run_may_match(fstats: "dict | None", filters) -> bool:
    """A run is kept when at least one of its files may match.  A run
    without per-file stats (legacy snapshot) is always kept; a run whose
    files hold no rows never is."""
    return fstats is None or any(
        not _provably_empty(st, filters) for st in fstats.values()
    )


def _filters_to_expr(filters):
    """The same conjuncts as a Spark Column (residual filter): pruning only
    removes whole runs and files, this re-applies exact row-level semantics
    — and the simple comparisons push down into the parquet scan as
    PushedFilters."""
    expr = None
    for flt in filters:
        col, op, val = _normalize_filter(flt)
        c = F.col(col)
        if op in ("=", "=="):
            e = c == F.lit(val)
        elif op == "<":
            e = c < F.lit(val)
        elif op == "<=":
            e = c <= F.lit(val)
        elif op == ">":
            e = c > F.lit(val)
        elif op == ">=":
            e = c >= F.lit(val)
        elif op == "in":
            vals = list(val)
            e = c.isin(vals) if vals else F.lit(False)
        elif op == "between":
            e = c.between(F.lit(val[0]), F.lit(val[1]))
        elif op == "is_null":
            e = c.isNull()
        else:  # is_not_null
            e = c.isNotNull()
        expr = e if expr is None else (expr & e)
    return expr if expr is not None else F.lit(True)


class SnapshotTable:
    """One snapshot-committed parquet table."""

    def __init__(self, table_dir: str):
        self.table_dir = table_dir
        self.snap_dir = os.path.join(table_dir, "_snapshots")
        self.data_dir = os.path.join(table_dir, "data")
        os.makedirs(self.snap_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # ------------------------------------------------------------- snapshots
    def latest_snapshot(self) -> Snapshot | None:
        """Highest committed snapshot, resolved by scanning v<N>.json names
        (immutable once linked into place).  No pointer file is consulted:
        racing writers would swing one in commit order only by luck, and a
        stale pointer must never hide a committed snapshot."""
        versions = [
            int(n[1:-5])
            for n in os.listdir(self.snap_dir)
            if n.startswith("v") and n.endswith(".json") and n[1:-5].isdigit()
        ]
        if not versions:
            return None
        return self.snapshot(max(versions))

    def _write_snapshot(self, snap: Snapshot) -> None:
        """Atomically publish a snapshot version, or raise
        SnapshotConflictError if another writer got there first.

        The full content is written and fsynced to a temp file, then
        os.link() makes it visible under its version name — link is atomic
        and fails with FileExistsError when the version exists, so readers
        can never observe a partial snapshot and no two writers can both
        claim the same version (the CAS of Iceberg's commit protocol)."""
        path = os.path.join(self.snap_dir, f"v{snap.version}.json")
        fd, tmp = tempfile.mkstemp(dir=self.snap_dir)
        try:
            with os.fdopen(fd, "w") as f:
                f.write(snap.to_json())
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, path)  # atomic create-if-absent
            except FileExistsError:
                raise SnapshotConflictError(
                    f"snapshot v{snap.version} already committed by another "
                    "writer"
                ) from None
        finally:
            os.unlink(tmp)

    # ------------------------------------------------------------ write path
    def staged_dir(self, run_id: str) -> str:
        return os.path.join(self.data_dir, f"run_id={run_id}")

    def is_committed(self, run_id: str) -> bool:
        snap = self.latest_snapshot()
        return snap is not None and (
            run_id in snap.run_ids or run_id in snap.retired_run_ids
        )

    def stage(
        self,
        df: DataFrame,
        run_id: str,
        cluster_by: "list[str] | None" = None,
        cluster_partitions: int | None = None,
        zorder: bool = False,
        zorder_bounds: "dict[str, tuple] | None" = None,
    ) -> str:
        """Write df into the run's staging dir (overwrite = crash-safe
        re-run; an uncommitted dir is invisible to readers).

        ``cluster_by`` range-partitions and sorts the write on the given
        columns (Iceberg's sorted write-distribution): each output file
        then covers a near-disjoint slice of the cluster key, so the
        file-level zone maps collected at commit let a point/range read
        plan one file of N instead of the whole run — the write-side half
        of data skipping (the read-side half is ``read(filters=...)``).

        ``zorder=True`` (with >= 2 cluster columns) sorts on the Z-curve
        interleaving of the columns instead of lexicographically.  A
        lexicographic sort gives perfect pruning on the leading column and
        NONE on the others; the Z-curve trades that for sublinear pruning
        on EVERY clustered column (~N^(1-1/d) of N files for a point
        filter on one of d dims) — Delta/Iceberg's OPTIMIZE ZORDER.  The
        Z value orders the write only; it is never stored."""
        zcol = None
        if zorder:
            # refuse, don't silently no-op: the operator would believe the
            # table is z-clustered while every read scans all files
            if not cluster_by or len(cluster_by) < 2:
                raise ValueError(
                    "zorder=True needs >= 2 cluster_by columns (a single "
                    "column is already optimally clustered by the plain "
                    "sorted write)"
                )
            zcol = "__zorder_tmp"
            if zcol in df.columns:
                raise ValueError(
                    f"zorder: input already has a {zcol!r} column; rename "
                    "it — the write would silently drop it"
                )
            df = df.withColumn(
                zcol, _zvalue(df, cluster_by, bounds=zorder_bounds)
            )
            cluster_by = [zcol]
        if cluster_by:
            if cluster_partitions is not None:
                n = cluster_partitions
            else:
                # may be non-numeric ("auto" under AQE-managed deployments)
                try:
                    n = int(
                        df.sparkSession.conf.get(
                            "spark.sql.shuffle.partitions", "16"
                        )
                    )
                except (ValueError, TypeError):
                    n = 16
            df = df.repartitionByRange(n, *cluster_by).sortWithinPartitions(
                *cluster_by
            )
        if zcol is not None:
            df = df.drop(zcol)  # projection only: file layout is kept
        path = self.staged_dir(run_id)
        df.write.mode("overwrite").parquet(path)
        return path

    def _commit(self, what: str, operation: str, done, changes) -> Snapshot:
        """The one snapshot-commit path, shared by every writer: Iceberg's
        optimistic CAS loop.  Each attempt reads the latest snapshot (an
        empty version 0 when the table is new); ``done(prev)`` is the
        writer's idempotency check and returns ``prev`` unchanged when it
        holds; otherwise the next version is ``prev`` with ``operation``
        and the fields ``changes(prev)`` returns.  Losing the version race
        to another writer re-runs the attempt on the fresh snapshot, so
        whatever that writer committed is built upon, never dropped."""
        for _ in range(_CAS_RETRIES):
            prev = self.latest_snapshot() or Snapshot(version=0, run_ids=[])
            if done(prev):
                return prev
            snap = replace(
                prev, version=prev.version + 1, operation=operation,
                **changes(prev),
            )
            try:
                self._write_snapshot(snap)
                return snap
            except SnapshotConflictError:
                continue
        raise SnapshotConflictError(
            f"{what} lost {_CAS_RETRIES} CAS races; "
            "a writer is livelocking this table"
        )

    def _stage_stats(
        self, spark: SparkSession, run_id: str, df: DataFrame | None = None,
        **stage_kw,
    ) -> tuple[int, dict, StructType]:
        """Stage ``df`` as ``run_id`` (when given; see :meth:`stage`), then
        one stats pass over the staged files: ``(rows, file_stats,
        schema)``."""
        if df is not None:
            self.stage(df, run_id, **stage_kw)
        staged = spark.read.parquet(self.staged_dir(run_id))
        return (*_collect_stats(staged), staged.schema)

    def commit(
        self,
        spark: SparkSession,
        run_id: str,
        committed_keys: list[str] | None = None,
    ) -> Snapshot:
        """Fold the staged run into a new snapshot (no-op if committed,
        including a run a compaction or merge has since retired).  A lost
        CAS race re-checks the fresh snapshot, which may already contain
        this run_id, and otherwise appends on top of it."""
        staged = functools.cache(lambda: self._stage_stats(spark, run_id))

        def append(prev: Snapshot) -> dict:
            rows, fstats, schema = staged()  # staged data is fixed: scan once
            # delete_files carry over as-is: outstanding equality deletes
            # apply to PRIOR runs only (applies_to pins them)
            return dict(
                run_ids=prev.run_ids + [run_id],
                committed_keys=sorted(
                    set(prev.committed_keys) | set(committed_keys or [])
                ),
                row_counts={**prev.row_counts, run_id: rows},
                schema_json=_evolve_schema(prev.schema(), schema),
                file_stats={**prev.file_stats, run_id: fstats},
            )

        return self._commit(
            f"commit of run {run_id!r}", "append",
            lambda prev: run_id in prev.run_ids + prev.retired_run_ids,
            append,
        )

    # ---------------------------------------------------------- maintenance
    def compact(
        self,
        spark: SparkSession,
        target_partitions: int = 1,
        cluster_by: "list[str] | None" = None,
        zorder: bool = False,
    ) -> Snapshot:
        """Rewrite every committed run dir into one compacted run and commit
        a snapshot referencing only it (Iceberg rewrite_data_files).

        ``cluster_by`` makes it a SORTED rewrite (Iceberg's sort
        strategy): the compacted files carry near-disjoint ranges of the
        cluster key, so the file-level zone maps collected at commit turn
        an accumulation of unsorted micro-batch runs into a table where a
        point/range read plans one file of ``target_partitions`` — the
        nightly maintenance pass a streaming ingest needs to stay
        queryable.  ``zorder=True`` sorts on the Z-curve interleave of
        the cluster columns instead (Iceberg/Delta's z-order strategy):
        sublinear file pruning on every clustered column, not just the
        leading one — see :meth:`stage`.

        A long-running bucketed/streaming job accumulates one run dir per
        bucket or micro-batch; at 100 TB that means small-file explosion
        and a scan that unions thousands of directories.  Compaction is
        data-identical (row set unchanged; committed_keys preserved AND the
        folded run_ids move to retired_run_ids, so is_committed(run_id) —
        the resume rule of job buckets and streaming batches — still
        treats finished work as done); prior snapshots still time-travel
        until vacuum() expires their data.

        A commit landing between the snapshot read and the snapshot write
        (e.g. a live foreachBatch micro-batch — the exact workload
        compaction targets) loses this writer the CAS race, and the WHOLE
        rewrite restarts from the fresh snapshot so the newly appended
        rows are folded in rather than silently dropped.
        """
        if zorder and (not cluster_by or len(cluster_by) < 2):
            raise ValueError(
                "compact(zorder=True) needs >= 2 cluster_by columns"
            )

        def rewrite(prev: Snapshot) -> dict:
            if not prev.run_ids:
                raise ValueError("nothing to compact: no committed snapshot")
            # Per-attempt nonce: two compactors racing from the same base
            # version must stage into DIFFERENT directories — with a shared
            # deterministic name, the loser's mode("overwrite") would delete
            # the data files of the snapshot the winner already committed.
            # The loser's orphaned dir is reclaimed by vacuum() (min-age
            # guarded) like any other uncommitted staging dir.
            run_id = f"compact-v{prev.version + 1}-{os.urandom(4).hex()}"
            # read() applies the snapshot schema AND any outstanding
            # equality-delete files, so a compaction after MOR merges
            # FOLDS the deletes into the rewrite (Iceberg: rewrite_data_
            # files drops the delete files it applies) — the new snapshot
            # carries no delete_files and readers stop paying the
            # anti-joins
            df = self.read(spark, version=prev.version)
            rows, fstats, _ = self._stage_stats(
                spark,
                run_id,
                df if cluster_by else df.repartition(target_partitions),
                cluster_by=cluster_by,
                cluster_partitions=target_partitions,
                zorder=zorder,
                # the snapshot already knows every column's bounds: a
                # z-ordered rewrite must not pay an extra full scan
                zorder_bounds=(
                    _zbounds_from_snapshot(prev, cluster_by) if zorder else None
                ),
            )
            # with outstanding equality deletes the run row-counts are an
            # overcount (deleted rows still sit in their files), so the
            # identity check recounts the MOR-applied source instead
            expected = (
                df.count()
                if prev.delete_files
                else sum(prev.row_counts.get(r, 0) for r in prev.run_ids)
            )
            if rows != expected:
                raise RuntimeError(
                    f"compaction row mismatch: {rows} != {expected}"
                )
            return dict(
                run_ids=[run_id],
                row_counts={run_id: rows},
                retired_run_ids=sorted(
                    set(prev.retired_run_ids) | set(prev.run_ids)
                ),
                file_stats={run_id: fstats},
                delete_files=[],
            )

        return self._commit("compaction", "compact", lambda prev: False, rewrite)

    def merge(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key_cols: list[str],
        merge_id: str,
        delete_col: str | None = None,
        mode: str = "cow",
    ) -> Snapshot:
        """Iceberg-style MERGE (copy-on-write with data-file pruning):
        rows of ``updates`` replace committed rows sharing their key,
        unmatched update rows are inserted, and update rows whose
        ``delete_col`` is true delete their match instead.

        ``mode="mor"`` is the merge-on-read path (Iceberg v2 equality
        deletes): instead of rewriting matched run dirs, the merge writes
        ONE delete-keys file (every update key, scoped by ``applies_to``
        to the runs that existed at merge time — Iceberg's
        sequence-number scoping made explicit) plus ONE insert run with
        the upsert rows.  Write cost is O(update keys), never O(run-dir
        rewrite) — the right shape for a small redaction on a high-churn
        100 TB table; readers pay a (typically broadcast) anti-join per
        outstanding delete file until compact() folds them away, which
        stays copy-on-write's job.  A COW merge while equality deletes
        are outstanding is refused (its survivor scan would resurrect
        deleted rows) — compact first, exactly like Iceberg's
        rewrite_data_files before strategy changes.

        The scale property this implements deliberately: only run dirs
        that actually CONTAIN a matched key are rewritten — every other
        committed run dir stays referenced untouched in the new snapshot
        (Iceberg's COW file pruning; at 100 TB a merge touching one day's
        partition must not rewrite the other 364).  Matched-run discovery
        is one semi-join over the committed rows with run provenance; the
        collect is bounded by the number of run DIRS, never rows.

        Idempotent under ``merge_id`` (recorded in committed_keys — a
        crash-and-rerun is a no-op) and CAS-safe like compact: losing the
        snapshot race restarts the whole merge from the fresh snapshot,
        so concurrently appended rows are never silently dropped.
        Replaced run dirs move to retired_run_ids: prior snapshots still
        time-travel until vacuum() expires them, and their run_ids stay
        recognized by is_committed.  Duplicate or NULL keys WITHIN
        updates raise (equality joins cannot match a NULL key, so a
        NULL-key update row would silently insert forever instead of
        erroring — Iceberg raises on multiple matching source rows for
        the same reason).  A NULL ``delete_col`` means "not a delete"
        (SQL MERGE's WHEN MATCHED AND <cond> treats NULL as false).
        Schema evolution: updates may carry new columns — survivors read
        back with NULLs there, per _evolve_schema.
        """
        key = f"merge/{merge_id}"
        # Idempotency short-circuit BEFORE validation: a crash-and-rerun of
        # a committed merge_id is a metadata read, not two update scans.
        prev0 = self.latest_snapshot()
        if prev0 is not None and key in prev0.committed_keys:
            return prev0
        null_key = F.lit(False)
        for c in key_cols:
            null_key = null_key | F.col(c).isNull()
        # zone-map-prunable key columns: collect the updates' key range in
        # the same validation pass, so committed runs whose recorded key
        # range provably misses every update key are never even scanned
        # (Iceberg's manifest-level file skipping applied to MERGE).
        dtypes = {f0.name: f0.dataType for f0 in updates.schema.fields}
        range_keys = [
            c
            for c in key_cols
            if _stats_kind(dtypes.get(c, None) or ()) is not None
        ]
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(*[F.col(c) for c in key_cols]).alias("nk"),
            F.sum(F.when(null_key, 1).otherwise(0)).alias("n_null"),
        ]
        for i, c in enumerate(range_keys):
            aggs.append(F.min(c).alias(f"__kmn_{i}"))
            aggs.append(F.max(c).alias(f"__kmx_{i}"))
        stats = updates.agg(*aggs).collect()[0]
        if (stats["n_null"] or 0) > 0:
            raise ValueError(
                f"{stats['n_null']} update row(s) carry NULL in a merge key "
                "column: an equality MERGE can never match them"
            )
        if stats["nk"] != stats["n"]:
            raise ValueError(
                "duplicate keys within updates: MERGE requires each target "
                "row to match at most one source row"
            )
        key_filters = []
        for i, c in enumerate(range_keys):
            kmn, kmx = stats[f"__kmn_{i}"], stats[f"__kmx_{i}"]
            if kmn is not None and not (
                isinstance(kmn, float)
                and not (math.isfinite(kmn) and math.isfinite(kmx))
            ):
                key_filters.append((c, "between", (kmn, kmx)))
        upd_keys = updates.select(*key_cols).distinct()
        upserts = updates
        if delete_col is not None:
            # NULL delete flag = not a delete; a bare ~col would silently
            # drop NULL-flag rows from the upsert set (data loss)
            upserts = updates.filter(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            ).drop(delete_col)
        if mode not in ("cow", "mor"):
            raise ValueError(f"merge: unknown mode {mode!r} (cow | mor)")
        body = self._merge_cow if mode == "cow" else self._merge_mor

        def rewrite(prev: Snapshot) -> dict:
            tag = f"{merge_id}-v{prev.version + 1}-{os.urandom(4).hex()}"
            result, retired, deletes = body(
                spark, prev, tag, upd_keys, upserts, key_cols, key_filters
            )
            run_id = f"merge-{tag}"
            rows, fstats, schema = self._stage_stats(spark, run_id, result)
            kept = [r for r in prev.run_ids if r not in retired]
            return dict(
                run_ids=kept + [run_id],
                committed_keys=sorted(set(prev.committed_keys) | {key}),
                row_counts={
                    **{r: n for r, n in prev.row_counts.items() if r in kept},
                    run_id: rows,
                },
                retired_run_ids=sorted(set(prev.retired_run_ids) | set(retired)),
                schema_json=_evolve_schema(prev.schema(), schema),
                file_stats={
                    **{r: f for r, f in prev.file_stats.items() if r in kept},
                    run_id: fstats,
                },
                delete_files=prev.delete_files + deletes,
            )

        return self._commit(
            f"merge {merge_id!r} ({mode})", "merge",
            lambda prev: key in prev.committed_keys, rewrite,
        )

    def _merge_cow(
        self,
        spark: SparkSession,
        prev: Snapshot,
        tag: str,
        upd_keys: DataFrame,
        upserts: DataFrame,
        key_cols: list[str],
        key_filters: list,
    ) -> tuple[DataFrame, list[str], list[dict]]:
        """merge(mode="cow") body: ``(result, retired_runs, [])`` — the
        runs holding a matched key are retired and their survivors written
        with the upserts into the merge's new run."""
        if prev.delete_files:
            raise ValueError(
                "copy-on-write MERGE with outstanding equality deletes "
                "would resurrect deleted rows from its survivor scan; "
                "compact() first, or keep using mode='mor'"
            )
        # zone-map prune BEFORE any scan: a run none of whose files' key
        # range can hold an update key cannot contain a match and stays
        # referenced untouched, unread (at 100 TB a merge keyed to one
        # day's id range must not scan the other 364).
        scan_runs, _ = self.prune(prev, key_filters)
        if not scan_runs:
            return upserts, [], []
        # per-run lit() provenance instead of basePath partition discovery:
        # partition-type inference would corrupt digit-only run ids
        # ("01" -> 1 -> "1")
        cur = functools.reduce(DataFrame.unionByName, [
            self._scan(spark, prev, [self.staged_dir(r)])
            .withColumn("__run", F.lit(r))
            for r in scan_runs
        ])
        matched_runs = sorted(
            row["__run"]
            for row in cur.join(upd_keys, key_cols, "leftsemi")
            .select("__run")
            .distinct()
            .collect()
        )
        survivors = (
            cur.filter(F.col("__run").isin(matched_runs))
            .drop("__run")
            .join(upd_keys, key_cols, "left_anti")
        )
        return (
            survivors.unionByName(upserts, allowMissingColumns=True),
            matched_runs,
            [],
        )

    def _merge_mor(
        self,
        spark: SparkSession,
        prev: Snapshot,
        tag: str,
        upd_keys: DataFrame,
        upserts: DataFrame,
        key_cols: list[str],
        key_filters: list,
    ) -> tuple[DataFrame, list[str], list[dict]]:
        """merge(mode="mor") body: ``(upserts, [], [delete entry])`` — one
        equality-delete keys file, no data-file rewrite (see merge()
        docstring).  The delete entry's ``applies_to`` is zone-map pruned
        at write time — a run none of whose files' key range can hold an
        update key is not even listed, so readers never anti-join against
        it (and with no such run, no delete file is written at all)."""
        applies_to, _ = self.prune(prev, key_filters)
        if not applies_to:
            return upserts, [], []
        del_run = f"eqdel-{tag}"
        self.stage(upd_keys, del_run)
        return upserts, [], [
            {"run": del_run, "key_cols": list(key_cols), "applies_to": applies_to}
        ]

    def vacuum(
        self, retain_last: int = 1, min_age_seconds: float = 3 * 86400
    ) -> list[str]:
        """Delete data dirs unreferenced by the ``retain_last`` most recent
        snapshots — including orphaned staging dirs no snapshot ever
        committed (Iceberg expire_snapshots + remove_orphan_files).

        ``min_age_seconds`` protects in-flight writers: a dir staged but not
        yet committed looks exactly like an orphan, so only dirs whose
        mtime is older than the threshold are deleted (Iceberg's
        remove_orphan_files defaults to 3 days for the same race).  Time
        travel to expired snapshots stops working, exactly as with Iceberg
        snapshot expiry; the retained window is the operator's rollback
        horizon.  TAGGED versions are always retained (Iceberg ref
        retention) — a published dataset pin survives maintenance until
        the tag is dropped.  Returns the removed directories.
        """
        import shutil
        import time

        latest = self.latest_snapshot()
        if latest is None:
            return []
        keep_versions = set(
            range(max(1, latest.version - retain_last + 1), latest.version + 1)
        ) | set(self.tags().values())
        keep_runs: set[str] = set()
        for v in sorted(keep_versions):
            snap = self.snapshot(v)
            if snap is not None:
                keep_runs.update(snap.run_ids)
                # equality-delete key files are part of a snapshot's read
                # state: expiring one would resurrect deleted rows
                keep_runs.update(d["run"] for d in snap.delete_files)
        now = time.time()
        removed = []
        for entry in sorted(os.listdir(self.data_dir)):
            if not entry.startswith("run_id="):
                continue
            path = os.path.join(self.data_dir, entry)
            if entry[len("run_id="):] in keep_runs:
                continue
            if now - os.path.getmtime(path) < min_age_seconds:
                continue  # possibly an in-flight writer's staging dir
            shutil.rmtree(path)
            removed.append(path)
        return removed

    # ----------------------------------------------------------------- tags
    def _tags_dir(self) -> str:
        d = os.path.join(self.table_dir, "_tags")
        os.makedirs(d, exist_ok=True)
        return d

    def tag(self, name: str, version: int | None = None) -> int:
        """Iceberg-style named ref: pin ``name`` to a snapshot version
        (default: latest).  The publish pointer of write-audit-publish —
        readers address ``read(spark, tag="published")`` while writers
        keep committing; flipping the tag is one atomic file replace, and
        ``vacuum`` retains every tagged version's data beyond
        ``retain_last`` (Iceberg ref retention), so a pinned dataset
        release survives routine maintenance until the tag is dropped."""
        if "/" in name or name.startswith("."):
            raise ValueError(f"invalid tag name {name!r}")
        snap = (
            self.latest_snapshot() if version is None else self.snapshot(version)
        )
        if snap is None:
            raise ValueError(
                f"tag {name!r}: snapshot "
                f"{'latest' if version is None else f'v{version}'} does not exist"
            )
        missing = [
            r for r in snap.run_ids if not os.path.isdir(self.staged_dir(r))
        ]
        if missing:
            raise ValueError(
                f"tag {name!r}: {len(missing)} run dir(s) of v{snap.version} "
                "were expired by vacuum; a tag cannot pin data that no "
                "longer exists"
            )
        path = os.path.join(self._tags_dir(), f"{name}.json")
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({"version": snap.version}, f)
        os.replace(tmp, path)  # atomic flip (last-write-wins, like a ref)
        return snap.version

    def drop_tag(self, name: str) -> bool:
        try:
            os.remove(os.path.join(self._tags_dir(), f"{name}.json"))
            return True
        except FileNotFoundError:
            return False

    def tags(self) -> dict[str, int]:
        out: dict[str, int] = {}
        d = self._tags_dir()
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".json"):
                with open(os.path.join(d, fn)) as f:
                    out[fn[:-5]] = json.load(f)["version"]
        return out

    def resolve_tag(self, name: str) -> int:
        v = self.tags().get(name)
        if v is None:
            raise ValueError(f"unknown tag {name!r}")
        return v

    def rollback(self, to_version: int) -> Snapshot:
        """Iceberg's ``rollback_to_snapshot``: commit a NEW snapshot whose
        table state (runs, keys, stats, schema) equals ``to_version``'s.
        The operator's undo button for a bad append/merge — metadata-only,
        O(1) in table size: no data file is read, written, or deleted.

        Semantics (matching Iceberg):
        - History is preserved.  The rolled-back versions stay
          time-travelable until ``vacuum`` expires them; the new snapshot's
          ``operation`` is ``"rollback"``.
        - It is a true UNDO.  Runs that entered after ``to_version`` leave
          ``run_ids`` *and* ``retired_run_ids``, so ``is_committed``
          reports False and a checkpoint-replayed micro-batch (or a
          corrected re-ingest) re-appends — exactly what rolling back bad
          data is for.  Their orphaned dirs become ``vacuum``-collectable
          after the age threshold.
        - ``read_changes`` refuses to cross a rollback (rows were removed;
          that is a logical rewrite, not an append) but consumes normally
          from the rollback version forward.

        Raises if the target version does not exist or if any of its run
        dirs was already vacuumed (the data is gone; like time travel to
        an expired snapshot).  Rolling back to the current version is a
        no-op returning the latest snapshot."""
        target = self.snapshot(to_version)
        if target is None:
            raise ValueError(
                f"rollback: snapshot v{to_version} does not exist "
                "(never committed, or expired by vacuum)"
            )
        missing = [
            r
            for r in (
                list(target.run_ids)
                + [d["run"] for d in target.delete_files]
            )
            if not os.path.isdir(self.staged_dir(r))
        ]
        if missing:
            raise ValueError(
                f"rollback: {len(missing)} run dir(s) of v{to_version} were "
                "expired by vacuum; the data no longer exists at that version"
            )
        state = {
            k: v for k, v in asdict(target).items()
            if k not in ("version", "operation")
        }
        return self._commit(
            f"rollback to v{to_version}", "rollback",
            lambda prev: prev.version == to_version, lambda prev: state,
        )

    # ------------------------------------------------------------- read path
    def snapshot(self, version: int) -> Snapshot | None:
        """Load a specific snapshot version (time travel)."""
        path = os.path.join(self.snap_dir, f"v{version}.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return Snapshot.from_json(f.read())

    def prune(self, snap: Snapshot, filters) -> tuple[list[str], list[str]]:
        """Split a snapshot's run_ids into (kept, skipped) under conjunctive
        ``filters`` — tuples ``(col, op, value)`` with op in =, ==, <, <=,
        >, >=, in, between, is_null, is_not_null (value omitted for the
        null tests).  A run is kept when at least one of its files may
        match: it is skipped only when the committed per-file zone maps
        PROVE no row of any of its files can satisfy the conjunction,
        including runs committed before a filtered column existed (schema
        evolution reads them all-NULL).  Runs of legacy snapshots without
        per-file stats are always kept."""
        kept, skipped = [], []
        for r in snap.run_ids:
            may = _run_may_match(snap.file_stats.get(r), filters)
            (kept if may else skipped).append(r)
        return kept, skipped

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        filters=None,
        tag: str | None = None,
    ) -> DataFrame | None:
        """Read the committed table state (union of committed run dirs).

        ``version`` enables Iceberg-style time travel: the table as of that
        snapshot.  ``tag`` reads the version a named ref pins (see
        :meth:`tag`); mutually exclusive with ``version``.  Default:
        latest.

        ``filters`` (see :meth:`prune`) enables manifest-level file
        skipping: run dirs none of whose files can match, and the files of
        kept runs whose zone maps prove no row can match, are never handed
        to the scan AT PLAN-BUILD TIME — at 100 TB this is the
        difference between listing/reading 3 of 365 daily runs and all of
        them, before Spark's own parquet row-group pruning even starts.
        The same conjuncts are re-applied as a residual row filter (and
        push down into the surviving parquet scans), so the result is
        exactly ``read(...).filter(...)`` regardless of how much pruning
        the stats could prove."""
        if tag is not None:
            if version is not None:
                raise ValueError("read: pass version OR tag, not both")
            version = self.resolve_tag(tag)
        snap = self.latest_snapshot() if version is None else self.snapshot(version)
        if snap is None or not snap.run_ids:
            return None
        # merge-on-read: group runs by WHICH equality-delete files apply
        # (Iceberg sequence-number scoping via each entry's applies_to),
        # scan each group once, anti-join its delete-key files, union.
        # Delete files are small by MOR design, so the anti-joins plan as
        # broadcasts; a table with no outstanding deletes takes the single
        # one-scan path unchanged.
        groups: dict[tuple, list[str]] = {}
        for r in self.prune(snap, filters)[0] if filters else snap.run_ids:
            fstats = snap.file_stats.get(r)
            if filters and fstats is not None:
                # file-level manifest pruning within the kept run: plan only
                # the files whose zone maps can match (with cluster_by
                # writes, one file of N for a point/range query)
                paths = [
                    os.path.join(self.staged_dir(r), fn)
                    for fn, st in sorted(fstats.items())
                    if not _provably_empty(st, filters)
                ]
            else:
                paths = [self.staged_dir(r)]
            applicable = tuple(
                i
                for i, d in enumerate(snap.delete_files)
                if r in d["applies_to"]
            )
            groups.setdefault(applicable, []).extend(paths)
        if not groups:
            return self._scan(spark, snap, [])  # everything pruned
        df = None
        for applicable, paths in sorted(groups.items()):
            part = self._scan(spark, snap, paths)
            for i in applicable:
                d = snap.delete_files[i]
                part = part.join(
                    self._delete_keys(spark, d), d["key_cols"], "left_anti"
                )
            df = part if df is None else df.unionByName(part)
        if filters:
            df = df.filter(_filters_to_expr(filters))
        return df

    def _scan(
        self, spark: SparkSession, snap: Snapshot, paths: list[str]
    ) -> DataFrame:
        """Parquet scan of ``paths`` under ``snap``'s schema, Iceberg-style:
        runs written before a column existed read back with NULLs there,
        and no per-file footer merge (mergeSchema) is ever needed.  No
        paths: an empty frame in that schema (a legacy snapshot without a
        recorded schema takes it from its runs' footers)."""
        schema = snap.schema()
        if not paths:
            if schema is None:
                schema = spark.read.parquet(
                    *[self.staged_dir(r) for r in snap.run_ids]
                ).schema
            return spark.createDataFrame([], schema)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*paths)

    def _delete_keys(self, spark: SparkSession, d: dict) -> DataFrame:
        """The distinct key tuples of one equality-delete entry."""
        return (
            spark.read.parquet(self.staged_dir(d["run"]))
            .select(*d["key_cols"])
            .distinct()
        )

    def _live_dirs(self, runs: list[str], who: str, what: str) -> list[str]:
        """The run dirs of ``runs``.  Vacuumed history cannot be scanned
        (Iceberg: expired snapshots), so a missing dir fails at plan time
        with the remedy, not mid-job with a FileNotFoundError."""
        paths = [self.staged_dir(r) for r in runs]
        gone = [p for p in paths if not os.path.isdir(p)]
        if gone:
            raise ValueError(
                f"{who}: {what}: {len(gone)} run dir(s) were expired by "
                "vacuum; bootstrap from a full read() at the target version "
                "instead"
            )
        return paths

    def _walk(self, who: str, from_version: int, to_version: int | None):
        """The snapshot range ``(from_version, to_version]`` shared by
        read_changes and read_changelog.  Validates the range and returns
        ``(to_snap, steps)``; ``steps`` lazily yields, per snapshot in
        order, ``(v, op, added_runs, retired_runs, new_deletes)``.  A
        legacy record without an ``operation`` is classified
        conservatively: growth of ``retired_run_ids`` marks a "rewrite",
        anything else an "append".  A hole in the log raises — never
        silent data loss.  ``from_version`` 0 starts before the first
        snapshot."""
        to_snap = (
            self.latest_snapshot()
            if to_version is None
            else self.snapshot(to_version)
        )
        if to_snap is None:
            raise ValueError(f"{who}: no committed snapshot to read to")
        if from_version > to_snap.version:
            raise ValueError(
                f"{who}: from_version {from_version} is beyond "
                f"snapshot {to_snap.version}"
            )
        base = (
            self.snapshot(from_version)
            if from_version > 0
            else Snapshot(version=0, run_ids=[])
        )
        if base is None:
            raise ValueError(f"{who}: snapshot v{from_version} does not exist")

        def steps():
            prev, seen = base, set(base.run_ids) | set(base.retired_run_ids)
            for v in range(base.version + 1, to_snap.version + 1):
                s = self.snapshot(v)
                if s is None:
                    raise ValueError(f"{who}: snapshot v{v} is missing")
                was, now = set(prev.retired_run_ids), set(s.retired_run_ids)
                op = s.operation or ("rewrite" if now > was else "append")
                yield (
                    v,
                    op,
                    [r for r in s.run_ids if r not in seen],
                    sorted(now - was),
                    s.delete_files[len(prev.delete_files):],
                )
                seen |= set(s.run_ids) | set(s.retired_run_ids)
                prev = s

        return to_snap, steps()

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Iceberg-style incremental append scan: the rows ADDED by append
        snapshots in ``(from_version, to_version]`` — the consumption
        primitive for downstream pipelines (incremental dedup, CDC-style
        re-scoring, nightly exports) that must process only new data, not
        re-scan a 100 TB table per run.

        Semantics match Iceberg's incremental read: append snapshots
        contribute their new run dirs; compaction snapshots are skipped
        (data-identical rewrites add nothing); a merge snapshot in the
        range raises (a logical rewrite cannot be expressed as appends —
        Iceberg refuses the same way).  Legacy snapshots without an
        ``operation`` field are classified conservatively: growth of
        ``retired_run_ids`` marks a rewrite and raises.  Rows are read
        under the TO snapshot's schema (columns added later backfill NULL).
        Vacuumed history cannot be incrementally scanned — like expired
        Iceberg snapshots — because the appended dirs are gone.

        ``from_version`` 0 means "from before the first snapshot" (a full
        bootstrap read).  Returns an empty frame when the range adds
        nothing."""
        to_snap, steps = self._walk("read_changes", from_version, to_version)
        new_runs: list[str] = []
        for v, op, added, _, _ in steps:
            if op == "append":
                new_runs.extend(added)
            elif op != "compact":
                raise ValueError(
                    f"read_changes: snapshot v{v} is a {op!r} — a logical "
                    "rewrite cannot be consumed as incremental appends; "
                    "use read_changelog() for row-level delete+insert CDC, "
                    "or read the full table at that version"
                )
        paths = self._live_dirs(new_runs, "read_changes", "appended")
        return self._scan(spark, to_snap, paths)

    def read_changelog(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Iceberg-style changelog scan: one row per row-level CHANGE in
        ``(from_version, to_version]``, tagged with ``_change_type``
        ('insert' | 'delete') and ``_change_version`` — the CDC primitive
        ``read_changes`` cannot express (round-6 verdict item 3: the first
        post-redaction incremental export hits a MERGE in range).

        Per snapshot: append -> its new runs' rows as inserts; compact ->
        nothing (data-identical rewrite); MERGE -> the value-level diff of
        the rewritten run dirs against the merge output, as Iceberg's
        changelog emits it — delete+insert pairs for updated rows, pure
        deletes for delete-merges, pure inserts for upserted new keys.
        The diff is two EXCEPT ALLs over ONLY the runs the merge rewrote
        (never the untouched table: at 100 TB a one-day merge diffs one
        day); survivor rows appear identically in old and new files and
        cancel exactly.  Rollback in range is refused like read_changes —
        undone history is not expressible as forward changes.

        All rows are read under the TO snapshot's schema (later-added
        columns backfill NULL on earlier rows, so delete/insert pairs stay
        union-compatible).  Requires the merge's retired run dirs to still
        exist: vacuumed history cannot be diffed (same remedy as
        read_changes — bootstrap from a full read)."""
        to_snap, steps = self._walk("read_changelog", from_version, to_version)
        schema = to_snap.schema()

        def _conform(df: DataFrame) -> DataFrame:
            # rows read under an earlier snapshot's schema: backfill NULL
            # in later-added columns so every piece is union-compatible
            if schema is None:
                return df
            have = set(df.columns)
            return df.select(*[
                F.col(f0.name)
                if f0.name in have
                else F.lit(None).cast(f0.dataType).alias(f0.name)
                for f0 in schema.fields
            ])

        def _read(runs: list[str], what: str, v: int) -> DataFrame:
            paths = self._live_dirs(runs, "read_changelog", f"v{v} {what}")
            return self._scan(spark, to_snap, paths)

        def _tag(df: DataFrame, kind: str, v: int) -> DataFrame:
            return df.select(
                "*",
                F.lit(kind).alias("_change_type"),
                F.lit(v).alias("_change_version"),
            )

        pieces: list[DataFrame] = []
        for v, op, new_runs, old_runs, new_dels in steps:
            if op == "append":
                if new_runs:
                    pieces.append(_tag(_read(new_runs, "appended", v), "insert", v))
            elif op == "merge" and old_runs and new_runs:
                # copy-on-write: value-level diff of the rewritten runs
                old_df = _read(old_runs, "merge-retired", v)
                new_df = _read(new_runs, "merge-output", v)
                pieces.append(_tag(old_df.exceptAll(new_df), "delete", v))
                pieces.append(_tag(new_df.exceptAll(old_df), "insert", v))
            elif op == "merge":
                # merge-on-read: the pre-image of every deleted key is the
                # prior version's MOR-applied read semi-joined on the
                # delete-key file (matched keys only — an update key that
                # matched nothing emits no delete); inserts are the merge's
                # insert run verbatim (also a merge into an empty match set)
                for d in new_dels:
                    self._live_dirs(
                        [d["run"]], "read_changelog", f"v{v} equality-delete"
                    )
                    pre = self.read(spark, version=v - 1)
                    pieces.append(_tag(
                        _conform(pre.join(self._delete_keys(spark, d),
                                          d["key_cols"], "left_semi")),
                        "delete", v,
                    ))
                if new_runs:
                    pieces.append(_tag(
                        _read(new_runs, "merge-output", v), "insert", v
                    ))
            elif op != "compact":
                raise ValueError(
                    f"read_changelog: snapshot v{v} is a {op!r} — not "
                    "expressible as forward row-level changes; read the "
                    "full table at that version instead"
                )
        if not pieces:
            return _tag(self._scan(spark, to_snap, []), "insert", 0)
        return functools.reduce(DataFrame.unionByName, pieces)

    def history(self, spark: SparkSession) -> "DataFrame | None":
        """Iceberg's snapshots metadata table: one row per committed
        snapshot — version, producing operation, runs/rows referenced, and
        rows added vs the previous snapshot.  Metadata-only (reads the
        snapshot log, never a data file), so it stays O(versions) on a
        100 TB table.  Returns None before the first commit."""
        latest = self.latest_snapshot()
        if latest is None:
            return None
        rows = []
        prev_counts: dict[str, int] = {}
        for v in range(1, latest.version + 1):
            s = self.snapshot(v)
            if s is None:  # a hole is reported, not an error: history is
                continue  # diagnostic surface, not a consistency proof
            total = sum(s.row_counts.get(r, 0) for r in s.run_ids)
            added = sum(
                n
                for r, n in s.row_counts.items()
                if r in s.run_ids and r not in prev_counts
            )
            rows.append(
                {
                    "version": s.version,
                    "operation": s.operation or "unknown",
                    "n_runs": len(s.run_ids),
                    "n_retired": len(s.retired_run_ids),
                    "total_rows": total,
                    "rows_added": added if (s.operation or "append") == "append" else 0,
                }
            )
            prev_counts = dict(s.row_counts)
        return spark.createDataFrame(
            rows,
            schema=(
                "version int, operation string, n_runs int, n_retired int, "
                "total_rows long, rows_added long"
            ),
        )
