"""Snapshot-log table format over parquet (Iceberg-shaped, from public
designs only: a table = immutable data files + an append-only JSON
snapshot log; readers plan scans from manifests, never by listing data
directories).

Layout::

    <table>/data/snap-<n>/part-*.parquet   immutable data files
    <table>/meta/snap-<n>.json             {"snapshot_id", "parent",
                                            "added_files", "added_rows",
                                            "schema"}
    <table>/meta/CURRENT                   pointer file -> snapshot id

Commit protocol (multi-writer, crash-safe): (1) write the data files
into a hidden uuid-named STAGING directory (the expensive part — no
lock held), (2) take the ``meta/COMMIT.lock`` (O_EXCL create;
stale-broken by age after a writer crash), (3) under the lock: read
CURRENT (CAS check against ``expected_parent`` if the caller demands
a parent — optimistic concurrency, the file-system analog of the
reference registry's ``_rev`` MVCC at
/root/reference/lib/npm/NpmCouchDb.js:42-51), claim the next id over
BOTH manifests and data directories (a crash between data-rename and
manifest-write can orphan a dir — it must never wedge future ids),
rename staging -> ``data/snap-<n>``, write ``snap-<n>.json``,
atomically flip ``CURRENT`` via ``os.replace``, release the lock.
A reader sees the old or the new table state, never a partial one —
data files and manifests that exist without a CURRENT pointing at
them are invisible garbage, exactly the Iceberg/Delta commit story;
concurrent committers serialize on the lock so no snapshot is ever
silently dropped. (Single-host POSIX lock semantics; on an object
store the lock step becomes the catalog's atomic CAS swap.)

Reads follow the PARENT CHAIN from a snapshot to the root (``_chain``
is the one walk), so ``rollback`` is a pure metadata operation (move
CURRENT to an older snapshot) and commits after a rollback fork the
chain — orphaned snapshots simply stop being reachable.

View rules — what a full read at snapshot ``s`` sees; ``_plan_full``
is the one place that applies them:

- **Cutoff.** The walk from ``s`` stops at the newest 'replace'
  (compaction) snapshot: its files ARE the table state below it.
- **Removed files.** An 'overwrite' (copy-on-write merge) hides its
  ``removed_files`` from every snapshot below it in the walk.
- **Delete sequence rule.** A 'rowdelta' equality-delete file at
  snapshot ``d`` masks data files whose origin snapshot is STRICTLY
  older than ``d`` (Iceberg v2 sequence numbers), so an upsert's own
  inserted rows are never shadowed by its own delete keys. Positional
  deletes name exact (file, row) coordinates.
- **Expired anchors.** Manifests that ``expire_snapshots`` stamped
  ``expired`` may still be walked through by a kept view, but cannot
  anchor a read: their own view may reference vacuumed files.
- **Schema eras.** Each data file is read under the field list it was
  written with (the newest 'evolve' above it in the walk supplies it)
  and projected onto the current schema by field id.

Why this matters at 100 TB: SC5's changed-since scan
(streaming/incremental.py, reference README "only process entries
changed since T") as a *filter* still reads every file's footer; as a
*snapshot diff* (``read_incremental``) the planned scan is
proportional to the CHANGE — the manifest names exactly the files
added in (from, to], and nothing else is opened. Metadata stays
driver-side and tiny (one small JSON per commit); the data plane is
ordinary parquet that Catalyst scans with full pushdown/pruning.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from pathlib import Path
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from ..plans.rounds import _empty


def _meta(table: str) -> Path:
    return Path(table) / "meta"


_JSON_CACHE: dict[str, tuple[float, dict]] = {}


def _read_json(p: Path) -> dict:
    """Manifest reader with an mtime-keyed cache: planning walks the
    parent chain several times per read (stats, eras, file plan), and
    long-lived tables have hundreds of manifests — cache by (path,
    mtime) so repeated walks cost dict lookups, while in-place
    manifest updates (expire stamping) invalidate naturally."""
    key = str(p)
    mtime = p.stat().st_mtime
    hit = _JSON_CACHE.get(key)
    if hit is not None and hit[0] == mtime:
        return hit[1]
    doc = json.loads(p.read_text())
    if len(_JSON_CACHE) > 4096:  # bound driver memory on huge chains
        _JSON_CACHE.clear()
    _JSON_CACHE[key] = (mtime, doc)
    return doc


def current_snapshot_id(table: str) -> int | None:
    """Snapshot id CURRENT points at, or None for an empty table."""
    cur = _meta(table) / "CURRENT"
    if not cur.exists():
        return None
    return int(cur.read_text().strip())


def _chain(table: str, sid: int | None, stop: int | None = None):
    """Manifests from ``sid`` down the parent chain, newest first,
    ending before ``stop``. Raises when ``stop`` is given and the walk
    reaches the root without meeting it."""
    start = sid
    while sid is not None and sid != stop:
        man = _read_json(_meta(table) / f"snap-{sid}.json")
        yield man
        sid = man["parent"]
    if stop is not None and sid != stop:
        raise ValueError(f"snapshot {stop} is not an ancestor of {start}")


def snapshot_log(table: str) -> list[dict]:
    """The reachable snapshot chain, root first (parent-chain walk from
    CURRENT — snapshots orphaned by a rollback are not listed)."""
    return list(_chain(table, current_snapshot_id(table)))[::-1]


def _flip(table: str, sid: int, ref: str | None = None) -> None:
    """The atomic commit point: write ``sid`` to a temp file and
    ``os.replace`` it over CURRENT, or over the ref file ``ref``
    (``branch-<name>`` / ``tag-<name>``)."""
    tmp = _meta(table) / f"CURRENT.{uuid.uuid4().hex}.tmp"
    tmp.write_text(str(sid))
    os.replace(tmp, _refs_dir(table) / ref if ref
               else _meta(table) / "CURRENT")


def _claim_id(table: str) -> int:
    """Next snapshot id, claimed under the commit lock over BOTH
    manifests and data directories: a crash between data-rename and
    manifest-write can orphan a dir, which must never wedge future
    ids."""
    claimed = [int(p.stem.split("-")[1])
               for p in _meta(table).glob("snap-*.json")]
    claimed += [int(d.name.split("-")[1])
                for d in (Path(table) / "data").glob("snap-*") if d.is_dir()]
    return max(claimed, default=0) + 1


_UNSET = object()


class CommitConflict(RuntimeError):
    """Optimistic-concurrency failure: CURRENT moved past the caller's
    ``expected_parent`` between its read and its commit. The caller
    must re-read the table state, recompute, and retry — exactly the
    Iceberg commit-conflict contract (and the reference registry's
    CouchDB ``_rev`` mismatch)."""


def _acquire_commit_lock(meta: Path, timeout: float,
                         stale_after: float) -> Path:
    """Take ``meta/COMMIT.lock`` via O_EXCL create. A lock older than
    ``stale_after`` (a crashed writer) is broken by atomically renaming
    it aside — only one breaker can win the rename, so two waiters
    never free a freshly re-taken lock."""
    import time

    lock = meta / "COMMIT.lock"
    deadline = time.monotonic() + timeout
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, f"{os.getpid()}\n".encode())
            os.close(fd)
            return lock
        except FileExistsError:
            try:
                age = time.time() - lock.stat().st_mtime
            except FileNotFoundError:
                continue  # released between create and stat — retry now
            if age > stale_after:
                try:  # atomic claim of the stale lock: one winner only
                    os.rename(lock, meta / f".stale-{uuid.uuid4().hex}")
                except FileNotFoundError:
                    pass
                continue
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"commit lock {lock} held longer than {timeout}s")
            time.sleep(0.02)


# ---------------------------------------------------------------------------
# Per-file column statistics (Iceberg manifest stats): min/max per
# top-level primitive column, harvested from the parquet FOOTERS at
# commit time (no data read). Readers prune files whose stats prove a
# predicate can never match — scan planning cost is metadata-only and
# the planned scan shrinks with predicate selectivity, which is the
# other half (besides snapshot diffs) of how an Iceberg scan of a
# 100 TB table avoids opening 100 TB of files.

_STATS_MAX_STR = 64  # don't trust long string stats (writers may truncate)


def _stat_value(v):
    """JSON-able, totally-ordered encoding of a footer stat value.
    Returns (tag, encoded) or None when the value can't be used."""
    import datetime

    if isinstance(v, bool):  # bool before int (bool is an int subclass)
        return None
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", v)
    if isinstance(v, str):
        return ("s", v) if len(v) <= _STATS_MAX_STR else None
    if isinstance(v, bytes):
        try:
            s = v.decode("utf-8")
        except UnicodeDecodeError:
            return None
        return ("s", s) if len(s) <= _STATS_MAX_STR else None
    if isinstance(v, datetime.datetime):
        # naive-UTC micros (the session TZ is pinned UTC)
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        epoch = datetime.datetime(1970, 1, 1)
        return ("t", int((v - epoch).total_seconds() * 1_000_000))
    if isinstance(v, datetime.date):
        return ("d", v.toordinal())
    return None


def _collect_file_stats(files: list[str]) -> dict:
    """{file: {"rows": n, "cols": {col: {"t": tag, "min": v,
    "max": v}}}} from footers. A column with any untrusted/missing
    row-group stat in a file is omitted for that file (absence ==
    cannot prune, always safe); zero-row files are prunable outright.

    Cost note: footer reads are driver-side, O(files-per-commit) tiny
    metadata fetches (a parquet footer is ~KBs). A production writer
    at 10^5 files/commit would collect these in the WRITE TASKS and
    ship them back with the task results, as Iceberg's writers do —
    the manifest format here wouldn't change."""
    import pyarrow.parquet as pq

    out: dict = {}
    for f in files:
        md = pq.ParquetFile(f).metadata
        per_col: dict = {}
        bad: set = set()
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name or name in bad:  # nested: skip
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    bad.add(name)
                    per_col.pop(name, None)
                    continue
                lo, hi = _stat_value(st.min), _stat_value(st.max)
                if lo is None or hi is None or lo[0] != hi[0]:
                    bad.add(name)
                    per_col.pop(name, None)
                    continue
                cur = per_col.get(name)
                if cur is None:
                    per_col[name] = {"t": lo[0], "min": lo[1], "max": hi[1]}
                elif cur["t"] != lo[0]:
                    bad.add(name)
                    per_col.pop(name, None)
                else:
                    cur["min"] = min(cur["min"], lo[1])
                    cur["max"] = max(cur["max"], hi[1])
        out[f] = {"rows": md.num_rows, "cols": per_col}
    return out


def _encode_pred_value(v, tag: str):
    """Encode a user predicate value into the stats ordering domain of
    ``tag``; None when incomparable (then the file is kept)."""
    enc = _stat_value(v)
    if enc is not None and enc[0] == tag:
        return enc[1]
    # int predicate against float stats and vice versa: floats order
    # consistently with ints, so allow the cross-compare
    if enc is not None and {enc[0], tag} == {"i", "f"}:
        return float(enc[1]) if tag == "f" else enc[1]
    return None


def _file_may_match(stats: dict, predicates) -> bool:
    """Conservative overlap test: False ONLY when some predicate is
    provably false for every row of the file (or the file is empty)."""
    if stats.get("rows") == 0:
        return False
    cols = stats.get("cols", {})
    for col, op, val in predicates:
        cs = cols.get(col)
        if cs is None:
            continue
        v = _encode_pred_value(val, cs["t"])
        if v is None:
            continue
        lo, hi = cs["min"], cs["max"]
        if ((op == "=" and not (lo <= v <= hi))
                or (op == "<" and not (lo < v))
                or (op == "<=" and not (lo <= v))
                or (op == ">" and not (hi > v))
                or (op == ">=" and not (hi >= v))):
            return False
    return True


# ---------------------------------------------------------------------------
# Hidden partitioning (Iceberg partition transforms, from the public
# design): the table SPEC maps source columns through transforms —
# identity / bucket(n) / truncate(w) / day — to derived partition
# columns (name-prefixed ``__p_``) that the writer materializes and
# clusters files by, and that every reader hides. Scan planning
# rewrites USER predicates on the source columns into predicates on
# the derived columns (the "hidden" part: queries never mention the
# layout), and the existing per-file min/max stats pruning does the
# rest — a day-partitioned write puts one day per file, so a ts-window
# query opens only that window's files. Spec entries (JSON form):
#   ["identity", col] | ["bucket", col, n] | ["truncate", col, w]
#   | ["day", col]
# The bucket hash is sha256-based so the DRIVER can compute the same
# bucket for predicate rewrite that EXECUTORS computed at write.

_P_PREFIX = "__p_"


def _pcol_name(entry) -> str:
    kind, col = entry[0], entry[1]
    if kind in ("bucket", "truncate"):
        return f"{_P_PREFIX}{kind}_{entry[2]}_{col}"
    return f"{_P_PREFIX}{kind}_{col}"


def _transform_expr(entry):
    """Spark column expression of a spec entry (JVM-side, codegen)."""
    from pyspark.sql import functions as F

    kind, col = entry[0], entry[1]
    if kind == "identity":
        return F.col(col)
    if kind == "bucket":
        n = int(entry[2])
        # 60-bit prefix of sha256(string(v)) mod n — reproducible
        # driver-side with hashlib for predicate rewrite
        return F.pmod(
            F.conv(F.substring(F.sha2(F.col(col).cast("string"), 256), 1, 15),
                   16, 10).cast("long"), F.lit(n))
    if kind == "truncate":
        w = int(entry[2])
        return (F.col(col) - F.pmod(F.col(col), F.lit(w))).cast("long")
    if kind == "day":
        return F.datediff(F.col(col).cast("date"), F.lit("1970-01-01"))
    raise ValueError(f"unknown partition transform {kind!r}")


def _transform_value(entry, v):
    """Driver-side replica of _transform_expr for predicate rewrite;
    None when the value can't be transformed (no rewrite, still safe)."""
    import datetime
    import hashlib

    kind = entry[0]
    if kind == "identity":
        return v
    if kind == "bucket":
        if not isinstance(v, (int, str)) or isinstance(v, bool):
            return None
        return int(hashlib.sha256(str(v).encode()).hexdigest()[:15], 16) \
            % int(entry[2])
    if kind == "truncate":
        if not isinstance(v, int) or isinstance(v, bool):
            return None
        w = int(entry[2])
        return v - (v % w)
    if kind == "day":
        if isinstance(v, str):
            try:
                v = datetime.datetime.fromisoformat(v)
            except ValueError:
                return None
        if isinstance(v, datetime.datetime):
            v = v.date()
        if not isinstance(v, datetime.date):
            return None
        return (v - datetime.date(1970, 1, 1)).days
    return None


def _rewrite_preds(spec, predicates) -> list:
    """User predicates -> derived-column predicates the file stats can
    prune on. Conservative by construction: bucket supports equality
    only; day/truncate are monotone non-decreasing, so range bounds
    map to closed bounds on the transformed value."""
    extra = []
    for entry in spec or []:
        name = _pcol_name(entry)
        kind = entry[0]
        for col, op, val in predicates:
            if col != entry[1]:
                continue
            t = _transform_value(entry, val)
            if t is None:
                continue
            if op == "=":
                extra.append((name, "=", t))
            elif kind == "bucket":
                continue  # hash destroys order: only equality rewrites
            elif op in (">", ">="):
                extra.append((name, ">=", t))
            elif op in ("<", "<="):
                extra.append((name, "<=", t))
    return extra


def _current_spec(table: str) -> list | None:
    """The active partition spec: recorded in every spec-era manifest,
    so CURRENT's own manifest carries it (None on a spec-less table)."""
    sid = current_snapshot_id(table)
    if sid is None:
        return None
    return _read_json(_meta(table) / f"snap-{sid}.json").get("partition_spec")


def _drop_hidden(df: DataFrame) -> DataFrame:
    hidden = [c for c in df.columns if c.startswith(_P_PREFIX)]
    return df.drop(*hidden) if hidden else df


def plan_scan(table: str, predicates, snapshot_id: int | None = None):
    """Metadata-only scan planning: returns (kept_files, total_files)
    for the snapshot's file set under ``predicates`` — a list of
    (column, op, value) with op in {'=', '<', '<=', '>', '>='},
    conjunctive. Files lacking stats for a column are always kept."""
    sid = snapshot_id if snapshot_id is not None else current_snapshot_id(table)
    if sid is None:
        raise ValueError(f"{table}: empty table (no CURRENT)")
    view = _plan_full(table, sid)
    files = view.files
    # hidden-partition rewrite: user predicates on source columns gain
    # derived-column twins the per-file stats can prune on
    preds = list(predicates) + _rewrite_preds(view.spec, predicates)
    kept = []
    for f in files:
        # schema evolution: per-file stats are keyed by the file's
        # WRITE-TIME column names — translate predicate columns
        # current->era by field id; a predicate on a column added
        # after the file's era can match no row (all NULL there),
        # so the file is provably prunable
        fp = _translate_preds(preds, view.eras.get(f), view.current)
        if fp is not None and _file_may_match(view.stats.get(f, {}), fp):
            kept.append(f)
    return kept, files


def _scan_where(spark: SparkSession, table: str, predicates,
                sid: int | None, keep_coords: bool = False):
    """read_where's scan before the hidden columns are dropped: the
    stats-kept files of the view with its deletes applied, then the
    full predicate as a residual filter. None when no file survives."""
    from pyspark.sql import functions as F

    kept, _files = plan_scan(table, predicates, sid)
    # pruning never changes which rows a delete removes — it only
    # skips files with no matching row
    df = _apply_deletes(spark, _plan_full(table, sid), keep_only=kept,
                        keep_coords=keep_coords)
    if df is not None:
        for col, op, val in predicates:
            df = df.filter(getattr(F.col(col), _OPS[op])(F.lit(val)))
    return df


def read_where(spark: SparkSession, table: str, predicates,
               snapshot_id: int | None = None) -> DataFrame:
    """Predicate scan with manifest-stats file pruning: plans the file
    list from column min/max in the manifests (files that provably
    contain no matching row are never opened), then applies the full
    predicate as a residual Catalyst filter (so pruning is a pure
    optimization — results equal read_snapshot().filter(...))."""
    from pyspark.sql import functions as F

    sid = snapshot_id if snapshot_id is not None else current_snapshot_id(table)
    df = _scan_where(spark, table, predicates, sid)
    if df is None:
        return read_snapshot(spark, table, sid).limit(0).filter(F.lit(False))
    return _drop_hidden(df)


_Z_BITS = 12  # per-dimension resolution of the z-curve (4096 buckets)


def _with_z_value(df: DataFrame, cols: list[str], out: str) -> DataFrame:
    """Append the interleaved-bit z-curve value of ``cols``.

    Each column is min/max-normalized to a ``_Z_BITS``-bit integer
    (two tiny driver-side agg scalars per column — layout only, so
    float rounding is irrelevant to correctness), then the bit planes
    are interleaved JVM-side with shift/mask column arithmetic: no
    UDF, one codegen projection."""
    from pyspark.sql import functions as F

    bounds = df.agg(*[f(c).alias(f"{f.__name__}_{c}")
                      for c in cols for f in (F.min, F.max)]).collect()[0]
    scaled = []
    top = (1 << _Z_BITS) - 1
    for c in cols:
        lo, hi = bounds[f"min_{c}"], bounds[f"max_{c}"]
        span = (float(hi) - float(lo)) or 1.0
        scaled.append(
            F.least(F.lit(top), F.greatest(F.lit(0), F.floor(
                (F.col(c).cast("double") - F.lit(float(lo)))
                / F.lit(span) * F.lit(float(top + 1))).cast("long"))))
    z = F.lit(0).cast("long")
    for bit in range(_Z_BITS):
        for ci, s in enumerate(scaled):
            plane = bit * len(scaled) + ci
            z = z.bitwiseOR(
                F.shiftleft(F.shiftrightunsigned(s, bit).bitwiseAND(F.lit(1)),
                            plane))
    return df.withColumn(out, z)


def commit(df: DataFrame, table: str, partitions: int | None = None,
           operation: str = "append", props: dict | None = None,
           expected_parent=_UNSET, lock_timeout: float = 120.0,
           lock_stale_after: float = 300.0,
           cluster_by: list[str] | None = None,
           removed_files: list[str] | None = None,
           cluster_mode: str = "range",
           delete_keys: DataFrame | None = None,
           delete_key: str | None = None,
           partition_spec: list | None = None,
           branch: str | None = None,
           pos_deletes: DataFrame | None = None) -> int:
    """Write ``df`` as a new snapshot; returns the new snapshot id.

    ``operation='append'`` adds rows on top of the parent chain;
    ``operation='replace'`` declares the snapshot's own files to BE the
    full table state (compaction — readers stop the chain walk here,
    and incremental readers skip it: it adds no new rows).

    Multi-writer safe: the data files are written to a hidden staging
    directory WITHOUT the lock (the expensive Spark job doesn't block
    other committers), then the metadata transaction — parent read,
    optional CAS against ``expected_parent`` (raises
    :class:`CommitConflict` on mismatch; pass the snapshot id your
    computation was based on whenever the new snapshot's CONTENT
    depends on the old state, e.g. compaction), id claim, staging
    rename, manifest write, atomic CURRENT flip — happens under
    ``meta/COMMIT.lock``. If the writer dies before the flip, the
    table is unchanged; an orphaned data dir can never wedge future
    commits because ids are claimed over manifests AND data dirs."""
    if operation not in ("append", "replace", "overwrite", "rowdelta"):
        raise ValueError(f"unknown operation {operation!r}")
    if removed_files and operation != "overwrite":
        raise ValueError("removed_files requires operation='overwrite'")
    n_delete_kinds = (delete_keys is not None) + (pos_deletes is not None)
    if (n_delete_kinds > 0) != (operation == "rowdelta"):
        raise ValueError("delete_keys/pos_deletes and operation='rowdelta' "
                         "go together")
    if n_delete_kinds > 1:
        raise ValueError("one delete kind per commit: delete_keys "
                         "(equality) or pos_deletes (positional)")
    if delete_keys is not None and not delete_key:
        raise ValueError("rowdelta commits need delete_key (the equality-"
                         "delete column name)")
    if operation == "overwrite" and expected_parent is _UNSET:
        raise ValueError("overwrite commits rewrite state derived from "
                         "their parent: expected_parent is mandatory "
                         "(CAS against concurrent writers)")
    import shutil

    table_p = Path(table)
    meta = _meta(table)
    meta.mkdir(parents=True, exist_ok=True)
    (table_p / "data").mkdir(parents=True, exist_ok=True)
    staging = table_p / "data" / f".staging-{uuid.uuid4().hex}"
    # hidden-partition spec: explicit on the FIRST commit or a
    # 'replace' (compaction rewrites every live file under the new
    # layout, cutting the chain below it), INHERITED by every later
    # commit — so all live data files of a spec-era table share the
    # derived-column layout and readers never mix schemas. (The
    # inherit read is pre-lock: spec changes ride replace commits,
    # which CAS on expected_parent, so a race can only re-read the
    # same spec.)
    if branch is not None:
        # inherit the spec from the BRANCH head, not CURRENT
        _bp = _refs_dir(table) / f"branch-{branch}"
        inherited = None
        if _bp.exists():
            _bman = _meta(table) / f"snap-{int(_bp.read_text().strip())}.json"
            if _bman.exists():
                inherited = _read_json(_bman).get("partition_spec")
    else:
        inherited = _current_spec(table)
    if partition_spec is not None:
        if inherited is not None and operation != "replace" \
                and [list(e) for e in partition_spec] != inherited:
            raise ValueError(
                "changing partition_spec requires operation='replace' "
                "(a compaction that rewrites the table under the new "
                "layout) — appending files of a different layout would "
                "mix schemas under one table")
        spec = [list(e) for e in partition_spec]
    else:
        spec = inherited
    if spec:
        # derive the hidden partition columns and cluster files by
        # them (range partitioning keeps each file's derived min==max
        # for low-cardinality transforms, making stats pruning exact);
        # cluster_by still orders rows WITHIN the partition files.
        # Spec clustering supersedes the zorder/range cluster modes.
        df = _drop_hidden(df)
        pcols = [_pcol_name(e) for e in spec]
        for e in spec:
            df = df.withColumn(_pcol_name(e), _transform_expr(e))
        df = (df.repartitionByRange(
                  partitions or df.rdd.getNumPartitions(), *pcols)
              .sortWithinPartitions(*pcols, *(cluster_by or [])))
    elif cluster_by and cluster_mode == "zorder" and len(cluster_by) > 1:
        # Z-ORDER clustering: range-cluster on the interleaved-bit
        # z-value of the keys, so EVERY clustered dimension gets
        # usable (if coarser) per-file ranges — a predicate on any one
        # of k dimensions prunes ~n^((k-1)/k) of n files, where linear
        # clustering serves only its first key. This is Iceberg/Delta
        # OPTIMIZE ZORDER BY, built from public designs.
        zcol = "__z_order"
        df = (_with_z_value(df, cluster_by, zcol)
              .repartitionByRange(partitions or df.rdd.getNumPartitions(),
                                  zcol)
              .sortWithinPartitions(zcol)
              .drop(zcol))
    elif cluster_by:
        # range-cluster the commit on the given keys: each output file
        # covers a narrow, near-disjoint key range, so the manifest
        # stats make predicate file-pruning sharp (Iceberg's
        # sort-order/cluster story; the cheap cousin of Z-ordering)
        df = (df.repartitionByRange(partitions or df.rdd.getNumPartitions(),
                                    *cluster_by)
              .sortWithinPartitions(*cluster_by))
    elif partitions:
        df = df.repartition(partitions)
    df.write.mode("errorifexists").parquet(str(staging))
    # delete files ride in the same snapshot directory as the data
    # files, under a distinct name prefix — one small parquet of deleted
    # keys (equality) or of (file, pos) pairs naming exact rows of exact
    # data files (positional), written before the metadata transaction
    # (a crash here leaves only invisible staging)
    for dels, cols, prefix in ((delete_keys, [delete_key], "delete"),
                               (pos_deletes, ["file", "pos"], "posdel")):
        if dels is None:
            continue
        dstage = table_p / "data" / f".staging-{prefix}-{uuid.uuid4().hex}"
        (dels.select(*cols).distinct().coalesce(1)
         .write.mode("errorifexists").parquet(str(dstage)))
        for i, p in enumerate(sorted(dstage.glob("part-*.parquet"))):
            os.replace(p, staging / f"{prefix}-{i:05d}.parquet")
        shutil.rmtree(dstage, ignore_errors=True)
    lock = _acquire_commit_lock(meta, lock_timeout, lock_stale_after)
    try:
        if branch is not None:
            # commit onto a branch head: same chain, different pointer
            # (write-audit-publish staging — CURRENT never moves)
            bp = _refs_dir(table) / f"branch-{branch}"
            if not bp.exists():
                if (_refs_dir(table) / f"tag-{branch}").exists():
                    shutil.rmtree(staging, ignore_errors=True)
                    raise ValueError(f"{table}: {branch!r} is a tag — "
                                     "tags are immutable")
                shutil.rmtree(staging, ignore_errors=True)
                raise ValueError(f"{table}: no branch {branch!r}")
            parent = int(bp.read_text().strip())
        else:
            parent = current_snapshot_id(table)
        if expected_parent is not _UNSET and parent != expected_parent:
            shutil.rmtree(staging, ignore_errors=True)
            raise CommitConflict(
                f"{table}: {'branch ' + branch if branch else 'CURRENT'} "
                f"is at {parent}, expected {expected_parent}")
        sid = _claim_id(table)
        data_dir = table_p / "data" / f"snap-{sid}"
        os.replace(staging, data_dir)
        files = sorted(str(p) for p in data_dir.glob("part-*.parquet"))
        # row counts from the parquet FOOTERS (no data read, no Spark
        # job — manifest stats the way Iceberg collects them at write)
        import pyarrow.parquet as pq

        added_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        dfiles = sorted(str(p) for p in data_dir.glob("delete-*.parquet"))
        drange = None
        if dfiles:
            dstats = _collect_file_stats(dfiles)
            ranges = [s["cols"][delete_key] for s in dstats.values()
                      if delete_key in s.get("cols", {})]
            # int keys only: the range later becomes read_where
            # predicates, and integer compares are collation-proof in
            # both the stats domain and the residual Spark filter
            if (ranges and len(ranges) == len(dfiles)
                    and all(r["t"] == "i" for r in ranges)):
                drange = [min(r["min"] for r in ranges),
                          max(r["max"] for r in ranges)]
        manifest = {
            "snapshot_id": sid,
            "parent": parent,
            "operation": operation,
            "added_files": files,
            "added_rows": added_rows,
            "committed_at": time.time(),
            "schema": df.schema.json(),
            "props": props or {},
            # per-file column min/max from the footers — powers
            # plan_scan/read_where predicate file-pruning
            "file_stats": _collect_file_stats(files),
            "removed_files": sorted(removed_files or []),
        }
        if dfiles:
            manifest["delete_files"] = dfiles
            manifest["delete_key"] = delete_key
            manifest["delete_key_range"] = drange
        pdfiles = sorted(str(p) for p in data_dir.glob("posdel-*.parquet"))
        if pdfiles:
            manifest["pos_delete_files"] = pdfiles
        if spec:
            manifest["partition_spec"] = spec
        (meta / f"snap-{sid}.json").write_text(json.dumps(manifest, indent=1))
        _flip(table, sid, f"branch-{branch}" if branch is not None else None)
        return sid
    finally:
        lock.unlink(missing_ok=True)


def compact(spark: SparkSession, table: str,
            partitions: int | None = None,
            cluster_by: list[str] | None = None,
            partition_spec: list | None = None) -> int:
    """Rewrite the CURRENT table state as one 'replace' snapshot —
    the small-files maintenance op. Readers planning from the new
    snapshot open the compacted files only; older snapshots stay
    readable (time travel) until their manifests are removed. At scale
    this is what keeps a high-frequency-commit table's file count (and
    scan-planning cost) bounded. ``cluster_by`` range-clusters the
    rewritten table so stats pruning stays sharp after many interleaved
    commits/merges have scattered the key ranges — Iceberg's
    rewrite-with-sort-order.

    Compaction's content IS a function of the parent it read, so it
    commits with ``expected_parent`` (CAS): if a concurrent append
    lands in between, the replace would silently drop it — instead
    :class:`CommitConflict` is raised and the caller re-compacts."""
    base = current_snapshot_id(table)
    df = read_snapshot(spark, table, snapshot_id=base)
    return commit(df, table, partitions=partitions, operation="replace",
                  expected_parent=base, cluster_by=cluster_by,
                  partition_spec=partition_spec)


def _refuse_expired(man: dict) -> None:
    if man.get("expired"):
        raise ValueError(
            f"snapshot {man['snapshot_id']} was expired by expire_snapshots: "
            "its read view may reference vacuumed files; anchor at a "
            "kept snapshot instead")


class _View(NamedTuple):
    """A snapshot's read view, as ``_plan_full`` plans it."""

    groups: list   # [(origin_sid, [live data files], {key: [eq-delete
    #                files that mask them]})], newest first
    deletes: list  # [(delete_sid, key, [delete files])] in view, newest
    #                first; key None marks positional deletes
    sids: list     # the manifests the view spans, anchor to cutoff
    stats: dict    # merged file_stats of the view
    spec: list | None  # partition spec
    current: list | None  # field list at the anchor; None: never evolved
    eras: dict     # {data file: write-time field list}; absent or None
    #                means the current era (the index spans the whole
    #                chain: read_changes opens files below the cutoff)

    @property
    def files(self) -> list[str]:
        """Live data files, root first."""
        return [f for _, fs, _ in reversed(self.groups) for f in fs]


def _plan_full(table: str, sid: int) -> _View:
    """Plan the full read at ``sid`` under the module's view rules."""
    groups, deletes, sids = [], [], []
    stats: dict = {}
    removed: set[str] = set()
    eq: dict[str, list[str]] = {}  # delete files of the rowdeltas above
    spec = current = running = None
    eras: dict[str, list | None] = {}
    in_view = True
    for man in _chain(table, sid):
        msid = man["snapshot_id"]
        if msid == sid:
            _refuse_expired(man)
        op = man.get("operation", "append")
        if op == "evolve":
            if current is None:
                current = man["schema_fields"]
            running = man["prev_fields"]
        eras.update(dict.fromkeys(man["added_files"], running))
        if not in_view:
            continue
        sids.append(msid)
        spec = spec or man.get("partition_spec")
        stats.update(man.get("file_stats", {}))
        live = [f for f in man["added_files"] if f not in removed]
        if live:
            groups.append((msid, live, eq))
        removed.update(man.get("removed_files", []))
        if op == "rowdelta" and man.get("delete_files"):
            k = man["delete_key"]
            deletes.append((msid, k, man["delete_files"]))
            eq = {**eq, k: eq.get(k, []) + man["delete_files"]}
        if op == "rowdelta" and man.get("pos_delete_files"):
            deletes.append((msid, None, man["pos_delete_files"]))
        in_view = op != "replace"
    return _View(groups, deletes, sids, stats, spec, current, eras)


def _norm_file_path(col):
    """Normalize Spark's _metadata.file_path URI (file:/... or
    file:///...) to the plain absolute path form the manifests use."""
    from pyspark.sql import functions as F

    return F.regexp_replace(col, "^file:/+", "/")


# plan_scan/read_where/mor_delete_where predicate operators
_OPS = {"=": "__eq__", "<": "__lt__", "<=": "__le__",
        ">": "__gt__", ">=": "__ge__"}


def _read_eras(spark: SparkSession, files: list[str], view: _View,
               coords: bool = False, merge_schema: bool = False) -> DataFrame:
    """Read ``files`` of ``view``'s chain onto its current schema: one
    scan per schema era present, each projected by field id, unioned
    by name — a never-evolved file set is a single plain scan.
    ``coords`` prepends each row's ``(__f, __p)`` (file, row index)."""
    import functools

    from pyspark.sql import functions as F

    by_era: dict[str, tuple] = {}
    for f in files:
        era = view.eras.get(f)
        by_era.setdefault(json.dumps(era), (era, []))[1].append(f)
    parts = []
    for era, fs in by_era.values():
        r = spark.read
        if merge_schema:
            r = r.option("mergeSchema", "true")
        seg = r.parquet(*fs)
        if coords:
            seg = seg.select(
                _norm_file_path(F.col("_metadata.file_path")).alias("__f"),
                F.col("_metadata.row_index").alias("__p"), "*")
        parts.append(_project_era(seg, era, view.current))
    return functools.reduce(lambda a, b: a.unionByName(b), parts)


def _apply_deletes(spark: SparkSession, view: _View,
                   keep_only: list[str] | None = None,
                   keep_coords: bool = False,
                   merge_schema: bool = False) -> DataFrame | None:
    """The view's rows: its data files (only those in ``keep_only``,
    stats pruning, when given) with its deletes applied; None when no
    file is left. Without deletes this is ``_read_eras`` over the
    files; with them, each origin group anti-joins the equality-delete
    keys the plan attached to it, and targeted groups the positional
    (file, pos) coordinates.

    Cost shape at scale: delete files are small by the MOR premise
    (that's why the write chose not to rewrite data files), so every
    anti-join is a broadcast hash anti-join — the data files stream
    through one stage untouched, and the number of distinct plans is
    bounded by the number of rowdelta snapshots since the last
    compaction (which ``compact`` folds away)."""
    import functools

    from pyspark.sql import functions as F

    if not view.deletes:
        files = (keep_only if keep_only is not None
                 else [f for _, fs, _ in view.groups for f in fs])
        return (_read_eras(spark, files, view, keep_coords, merge_schema)
                if files else None)
    pos_files = [f for _, k, fs in view.deletes if k is None for f in fs]
    pd_keys = None
    targeted: set[str] = set()
    if pos_files:
        pd_keys = (spark.read.parquet(*pos_files)
                   .select(F.col("file").alias("__f"),
                           F.col("pos").alias("__p")).distinct()
                   .localCheckpoint(eager=True))
        # the delete parquet is tiny by the MOR premise: collect the
        # targeted-file set once so untargeted groups skip the
        # coordinate anti-join entirely
        targeted = {r["__f"] for r in pd_keys.select("__f")
                    .distinct().collect()}
    keep = None if keep_only is None else set(keep_only)
    parts: list[DataFrame] = []
    for _origin, files, eq in view.groups:
        if keep is not None:
            files = [f for f in files if f in keep]
        if not files:
            continue
        need_pos = not targeted.isdisjoint(files)
        seg = _read_eras(spark, files, view, keep_coords or need_pos,
                         merge_schema)
        if need_pos:
            seg = seg.join(F.broadcast(pd_keys), ["__f", "__p"],
                           "left_anti")
            if not keep_coords:
                seg = seg.drop("__f", "__p")
        # delete keys are guarded against rename, so their names are
        # era-invariant
        for k, fs in eq.items():
            keys = spark.read.parquet(*fs).select(k).distinct()
            seg = seg.join(F.broadcast(keys), k, "left_anti")
        parts.append(seg)
    if not parts:
        return None
    return functools.reduce(lambda a, b: a.unionByName(b), parts)


def read_snapshot(spark: SparkSession, table: str,
                  snapshot_id: int | None = None,
                  merge_schema: bool = False) -> DataFrame:
    """Full table state at ``snapshot_id`` (default: CURRENT) — time
    travel is just planning the scan from an older manifest chain.
    ``merge_schema=True`` unions the schemas across commits (schema
    evolution: columns added in later commits read as null in earlier
    files, parquet's native widening)."""
    sid = snapshot_id if snapshot_id is not None else current_snapshot_id(table)
    if sid is None:
        raise ValueError(f"{table}: empty table (no CURRENT)")
    df = _apply_deletes(spark, _plan_full(table, sid),
                        merge_schema=merge_schema)
    if df is None:
        raise ValueError(f"{table}: snapshot {sid} has no data files")
    return _drop_hidden(df)


def read_incremental(spark: SparkSession, table: str, from_snapshot: int,
                     to_snapshot: int | None = None) -> DataFrame:
    """Rows appended in (from_snapshot, to_snapshot] — the scan opens
    ONLY the files those commits added (no full-table footer reads, no
    timestamp filter; cost follows the change, not the table size).

    Only 'append' snapshots add rows here ('replace' adds none); an
    expired manifest may not be crossed (its added files may be
    vacuumed), and row-level 'overwrite'/'rowdelta' snapshots are
    refused."""
    to_sid = to_snapshot if to_snapshot is not None else current_snapshot_id(table)
    if to_sid is None:
        raise ValueError(f"{table}: empty table (no CURRENT)")
    if to_sid == from_snapshot:
        return read_snapshot(spark, table, to_sid).limit(0)
    files: list[str] = []
    for man in _chain(table, to_sid, stop=from_snapshot):
        _refuse_expired(man)
        op = man.get("operation", "append")
        if op == "overwrite" or (op == "rowdelta"
                                 and (man.get("delete_files")
                                      or man.get("pos_delete_files"))):
            raise ValueError(
                f"snapshot {man['snapshot_id']} is a row-level {op}: an "
                "append-only incremental scan over it would surface "
                "updated rows without retracting the rows they replace "
                "(Iceberg's incremental append scan refuses overwrites "
                "the same way) — read the full snapshot or use "
                "read_changes for the row-level diff instead")
        if op == "append":
            files[:0] = man["added_files"]
    if not files:
        return read_snapshot(spark, table, to_sid).limit(0)
    return _drop_hidden(_read_eras(spark, files, _plan_full(table, to_sid)))


def expire_snapshots(table: str, keep_last: int = 1) -> dict:
    """Vacuum: keep the newest ``keep_last`` snapshots of the CURRENT
    chain (their full read-closure stays intact — a kept snapshot's
    chain walk may reach below the cutoff, so every manifest and data
    file REACHABLE from a kept snapshot survives); everything else —
    orphaned forks, pre-compaction history — is deleted, manifests and
    data files both. Returns counts. Time travel below the horizon is
    gone after this, which is the point: bounded metadata + storage.

    Manifests below the horizon that the kept walks still plan
    through survive but are stamped ``"expired": true``: they can no
    longer anchor read_snapshot / read_changes / read_incremental /
    rollback (those raise up front — the expired view may reference
    vacuumed files), restoring the invariant "anchorable manifest =>
    readable"; ``snapshot_log`` still lists them, carrying the flag."""
    import shutil

    cur = current_snapshot_id(table)
    if cur is None:
        return {"kept": 0, "deleted_manifests": 0, "deleted_data_dirs": 0}
    # newest keep_last chain snapshots. Expiration is PERMANENT: a
    # manifest stamped expired by an earlier vacuum may reference
    # already-deleted files, so a later call with a deeper keep_last
    # must not re-adopt it as an anchor (it could neither be read nor
    # safely re-activated) — the keep window is taken over the
    # still-anchorable suffix of the chain
    chain = [m["snapshot_id"] for m in snapshot_log(table)
             if not m.get("expired")]
    kept_ids = set(chain[-max(keep_last, 1):])
    # every branch/tag head is a kept anchor: its read closure (and a
    # branch's whole fork) must survive the vacuum — dropping the ref
    # first is how staged-but-discarded data becomes expendable
    kept_ids.update(r["snapshot_id"] for r in list_refs(table).values())
    # the manifests a kept view spans stay (they plan the kept reads),
    # and so do exactly the data and delete files some kept view uses:
    # pre-compaction history and files an overwrite replaced (that
    # nothing kept can still see) are vacuumed
    reachable: set[int] = set()
    keep_files: set[str] = set()
    for sid in kept_ids:
        view = _plan_full(table, sid)
        reachable.update(view.sids)
        keep_files.update(view.files)
        keep_files.update(f for _, _, fs in view.deletes for f in fs)
    deleted_manifests = 0
    for p in list(_meta(table).glob("snap-*.json")):
        sid = int(p.stem.split("-")[1])
        if sid not in reachable:
            p.unlink()
            deleted_manifests += 1
    # detach kept manifests whose parent was expired (walkers must see
    # them as roots now), and stamp surviving below-horizon manifests
    # as planning-only fragments: they stay to serve the kept chain
    # walks, but can no longer anchor a read (their own view may
    # reference files this vacuum deletes)
    for sid in reachable:
        mp = _meta(table) / f"snap-{sid}.json"
        man = _read_json(mp)
        dirty = False
        if man["parent"] is not None and man["parent"] not in reachable:
            man["parent"] = None
            dirty = True
        if sid not in kept_ids and not man.get("expired"):
            man["expired"] = True
            dirty = True
        if dirty:
            mp.write_text(json.dumps(man, indent=1))
    deleted_dirs = 0
    deleted_files = 0
    for d in (Path(table) / "data").glob("snap-*"):
        files = {str(f) for f in d.glob("*.parquet")}
        dead = files - keep_files
        if files and dead == files:
            shutil.rmtree(d)
            deleted_dirs += 1
        else:
            # file-granular vacuum: an overwrite rewrites SOME of a
            # commit's files — the replaced ones die individually while
            # their siblings stay live in the kept view
            for f in dead:
                Path(f).unlink(missing_ok=True)
                deleted_files += 1
    # commit-protocol debris: broken-lock tombstones (always safe) and
    # staging dirs old enough that no live writer can still own them
    import time

    for p in _meta(table).glob(".stale-*"):
        p.unlink(missing_ok=True)
    for d in (Path(table) / "data").glob(".staging-*"):
        if time.time() - d.stat().st_mtime > 3600:
            shutil.rmtree(d, ignore_errors=True)
    return {"kept": len(reachable), "deleted_manifests": deleted_manifests,
            "deleted_data_dirs": deleted_dirs,
            "deleted_data_files": deleted_files}


def snapshot_as_of(table: str, ts: float) -> int:
    """AS OF TIMESTAMP time travel (Iceberg/Delta's other anchor):
    resolve the newest snapshot on the CURRENT chain whose commit
    time is <= ``ts`` (unix seconds). Pass the result to
    read_snapshot/read_where/read_changes. Every commit kind stamps a
    time, including evolve (so AS-OF lands on the schema in force at
    ``ts``). Raises if the whole chain is newer than ``ts`` or commit
    times are missing (pre-timestamp tables)."""
    # the walk is newest-first: the first hit is the answer
    for man in _chain(table, current_snapshot_id(table)):
        at = man.get("committed_at")
        if at is not None and at <= ts and not man.get("expired"):
            return man["snapshot_id"]
    raise ValueError(
        f"{table}: no snapshot committed at or before {ts} "
        "(chain is newer, expired, or predates commit timestamps)")


def rollback(table: str, snapshot_id: int) -> None:
    """Point CURRENT at an earlier reachable snapshot (metadata-only,
    atomic). Later snapshots become unreachable; a subsequent commit
    forks the chain from here with a fresh id."""
    _plan_full(table, snapshot_id)  # validates reachability
    _flip(table, snapshot_id)


# ------------------- refs: branches and tags -----------------------
#
# Iceberg's branching/tagging model from the public design: a ref is
# a named pointer into the shared snapshot-id space (the chain
# already forks naturally — rollback proves it). A BRANCH is a
# movable head that commit(branch=...) advances without touching
# CURRENT; a TAG pins a snapshot immutably. Write-audit-publish is
# then: create_branch -> commit staged data to the branch -> run
# validation queries against read_snapshot(ref_snapshot(...)) ->
# fast_forward to publish (atomic CURRENT flip, refused when the
# main line diverged) or drop_ref to discard; expire_snapshots keeps
# every ref head's read closure alive.


def _refs_dir(table: str) -> Path:
    return _meta(table) / "refs"


def _ref_file(table: str, name: str) -> Path | None:
    for kind in ("branch", "tag"):
        p = _refs_dir(table) / f"{kind}-{name}"
        if p.exists():
            return p
    return None


def _check_ref_name(name: str) -> None:
    if not name or not all(c.isalnum() or c in "-_." for c in name):
        raise ValueError(f"invalid ref name {name!r} (alnum/-/_/. only)")


def _create_ref(table: str, name: str, kind: str, at: int | None,
                lock_timeout: float) -> int:
    _check_ref_name(name)
    meta = _meta(table)
    lock = _acquire_commit_lock(meta, lock_timeout, 300.0)
    try:
        sid = at if at is not None else current_snapshot_id(table)
        if sid is None:
            raise ValueError(f"{table}: empty table (no CURRENT)")
        if not (meta / f"snap-{sid}.json").exists():
            raise ValueError(f"{table}: no snapshot {sid}")
        if _read_json(meta / f"snap-{sid}.json").get("expired"):
            raise ValueError(f"snapshot {sid} is expired: it can no "
                             "longer anchor a ref")
        if _ref_file(table, name) is not None:
            raise ValueError(f"{table}: ref {name!r} already exists")
        _refs_dir(table).mkdir(parents=True, exist_ok=True)
        _flip(table, sid, f"{kind}-{name}")
        return sid
    finally:
        lock.unlink(missing_ok=True)


def create_branch(table: str, name: str, at: int | None = None,
                  lock_timeout: float = 120.0) -> int:
    """Create a movable branch ref at ``at`` (default CURRENT)."""
    return _create_ref(table, name, "branch", at, lock_timeout)


def create_tag(table: str, name: str, at: int | None = None,
               lock_timeout: float = 120.0) -> int:
    """Pin ``at`` (default CURRENT) under an immutable tag name —
    commits cannot move it; only drop_ref removes it."""
    return _create_ref(table, name, "tag", at, lock_timeout)


def ref_snapshot(table: str, name: str) -> int:
    """Resolve a branch or tag name to its snapshot id (pass it to
    read_snapshot/read_where/read_changes as ``snapshot_id``)."""
    p = _ref_file(table, name)
    if p is None:
        raise ValueError(f"{table}: no ref {name!r}")
    return int(p.read_text().strip())


def list_refs(table: str) -> dict[str, dict]:
    """{name: {"kind": "branch"|"tag", "snapshot_id": sid}}."""
    out: dict[str, dict] = {}
    if _refs_dir(table).is_dir():
        for p in sorted(_refs_dir(table).iterdir()):
            kind, _, name = p.name.partition("-")
            if kind in ("branch", "tag") and name:
                out[name] = {"kind": kind,
                             "snapshot_id": int(p.read_text().strip())}
    return out


def drop_ref(table: str, name: str) -> None:
    """Delete a branch or tag. Snapshots only it reached become
    expendable at the next expire_snapshots (exactly how a discarded
    audit branch's staged data gets vacuumed)."""
    p = _ref_file(table, name)
    if p is None:
        raise ValueError(f"{table}: no ref {name!r}")
    p.unlink()


def fast_forward(table: str, branch: str,
                 lock_timeout: float = 120.0) -> int:
    """Publish a branch: atomically move CURRENT to the branch head,
    REFUSED unless CURRENT is an ancestor of (or equal to) the head —
    a diverged main line would silently lose its commits otherwise
    (Iceberg's fast-forward contract). Returns the published id."""
    meta = _meta(table)
    lock = _acquire_commit_lock(meta, lock_timeout, 300.0)
    try:
        p = _refs_dir(table) / f"branch-{branch}"
        if not p.exists():
            raise ValueError(f"{table}: no branch {branch!r}")
        head = int(p.read_text().strip())
        cur = current_snapshot_id(table)
        if cur is not None and cur not in {
                m["snapshot_id"] for m in _chain(table, head)}:
            raise ValueError(
                f"fast_forward: CURRENT ({cur}) is not an ancestor of "
                f"branch {branch!r} head ({head}) — the main line "
                "diverged; re-branch from the new CURRENT and re-stage")
        _flip(table, head)
        return head
    finally:
        lock.unlink(missing_ok=True)


# --------------- schema evolution (field-id based) ----------------
#
# Iceberg's schema-evolution model from the public design: every
# column has a stable FIELD ID; add/rename/drop are metadata-only
# commits (operation='evolve', no data files); readers map each data
# file's write-time column names to the current schema BY ID —
# renames never rewrite data, dropped columns become invisible while
# their bytes stay in old files, and re-adding a dropped column's
# NAME mints a fresh id, so old data never resurrects under it.
# A file's write-time schema ("era") is resolved from the manifest
# chain: the newest evolve at-or-below the file's origin snapshot;
# each evolve manifest records both its new fields and the fields it
# replaced, so the chain walk reconstructs every era without per-file
# metadata. Compaction ('replace') rewrites in the current era and
# collapses the history.


def _fields_from_schema_json(schema_json: str) -> list[list]:
    """Base field entries [id, name, ddl_type] synthesized from a data
    manifest's Spark schema JSON (ids 1..n in field order; hidden
    partition columns excluded — the spec machinery owns those)."""
    from pyspark.sql import types as T

    st = T.StructType.fromJson(json.loads(schema_json))
    out: list[list] = []
    for f in st.fields:
        if f.name.startswith(_P_PREFIX):
            continue
        out.append([len(out) + 1, f.name, f.dataType.simpleString()])
    return out


def resolve_fields(table: str, snapshot_id: int | None = None) -> list | None:
    """Field list [[id, name, type], ...] in effect AT a snapshot: the
    newest 'evolve' manifest at-or-below it. None if the table has
    never evolved (plain name-addressed schema, zero overhead)."""
    sid = snapshot_id if snapshot_id is not None \
        else current_snapshot_id(table)
    return next((m["schema_fields"] for m in _chain(table, sid)
                 if m.get("operation") == "evolve"), None)


def _base_fields(table: str, sid: int) -> list[list]:
    """Era for a never-evolved prefix of the chain: synthesized from
    the newest DATA manifest at-or-below ``sid`` (all pre-evolve
    commits share one schema — commit() appends never change it)."""
    for man in _chain(table, sid):
        if "schema" in man:
            return _fields_from_schema_json(man["schema"])
    raise ValueError(f"{table}: no data manifest below snapshot — "
                     "cannot evolve an empty table")


def evolve_schema(table: str, add: list[tuple[str, str]] | None = None,
                  rename: dict[str, str] | None = None,
                  drop: list[str] | None = None,
                  expected_parent=_UNSET, lock_timeout: float = 120.0,
                  lock_stale_after: float = 300.0) -> int:
    """Metadata-only DDL commit: ``add`` [(name, ddl_type), ...] new
    columns (NULL in every pre-existing row), ``rename`` {old: new}
    (field ids preserved — no data rewrite), ``drop`` [name, ...]
    (bytes stay in old files, invisible to every reader). Returns the
    new snapshot id; same lock/CAS discipline as data commits.

    Guarded against the traps the id-based model exists to avoid:
    hidden partition columns, the partition spec's source columns, and
    the delete-key column of any live merge-on-read snapshot cannot be
    renamed or dropped (the spec/delete machinery addresses them by
    name at plan time)."""
    add, rename, drop = list(add or []), dict(rename or {}), list(drop or [])
    if not (add or rename or drop):
        raise ValueError("evolve_schema: nothing to do")
    for n in ([a[0] for a in add] + list(rename) + list(rename.values())
              + drop):
        if n.startswith(_P_PREFIX):
            raise ValueError(f"column {n!r}: hidden partition columns "
                             "belong to the partition spec, not the schema")
    meta = _meta(table)
    lock = _acquire_commit_lock(meta, lock_timeout, lock_stale_after)
    try:
        parent = current_snapshot_id(table)
        if parent is None:
            raise ValueError(f"{table}: cannot evolve an empty table")
        if expected_parent is not _UNSET and parent != expected_parent:
            raise CommitConflict(
                f"{table}: CURRENT is {parent}, expected {expected_parent}")
        prev = resolve_fields(table, parent) or _base_fields(table, parent)
        names = {f[1] for f in prev}
        touched = set(rename) | set(drop)
        missing = touched - names
        if missing:
            raise ValueError(f"evolve_schema: no such column(s) {sorted(missing)}")
        spec = _current_spec(table) or []
        spec_cols = {e[1] for e in spec}
        if touched & spec_cols:
            raise ValueError(
                f"columns {sorted(touched & spec_cols)} are partition-spec "
                "source columns; change the spec (via a 'replace' commit) "
                "before renaming/dropping them")
        live_delete_keys = {d[1] for d in _plan_full(table, parent).deletes}
        if touched & live_delete_keys:
            raise ValueError(
                f"columns {sorted(touched & live_delete_keys)} are delete "
                "keys of live merge-on-read snapshots; compact() the table "
                "first to fold the deletes in")
        new: list[list] = []
        for fid, name, dtype in prev:
            if name in drop:
                continue
            new.append([fid, rename.get(name, name), dtype])
        # next field id = historical maximum over EVERY schema version
        # in the chain (Iceberg's last-column-id): ids are never
        # reused, so re-adding a dropped column's name mints a fresh
        # id and the dead bytes in old files stay invisible
        next_id = 1 + max([f[0] for f in prev] + [
            f[0] for m in _chain(table, parent)
            if m.get("operation") == "evolve"
            for f in m["schema_fields"] + m["prev_fields"]], default=0)
        for aname, atype in add:
            new.append([next_id, aname, atype])
            next_id += 1
        seen: set[str] = set()
        for _, name, _t in new:
            if name in seen:
                raise ValueError(f"evolve_schema: duplicate column {name!r} "
                                 "in the resulting schema")
            seen.add(name)
        sid = _claim_id(table)
        parent_man = _read_json(meta / f"snap-{parent}.json")
        manifest = {
            "snapshot_id": sid,
            "parent": parent,
            "operation": "evolve",
            "added_files": [],
            "added_rows": 0,
            "committed_at": time.time(),
            "schema_fields": new,
            "prev_fields": prev,
            "props": {},
            "file_stats": {},
        }
        if parent_man.get("partition_spec"):
            # _current_spec reads CURRENT's own manifest: inherit
            manifest["partition_spec"] = parent_man["partition_spec"]
        (meta / f"snap-{sid}.json").write_text(json.dumps(manifest, indent=1))
        _flip(table, sid)
        return sid
    finally:
        lock.unlink(missing_ok=True)


def _project_era(seg: DataFrame, era: list | None,
                 current: list | None) -> DataFrame:
    """Map a segment read from era-schema files onto the current
    schema by field id: renamed fields alias over, fields added since
    the era come back as typed NULLs, fields dropped from the current
    schema are simply not selected (column pruning — their bytes are
    never deserialized). Hidden partition columns pass through for the
    spec machinery, and so do (file, pos) coordinates ``__f``/``__p``."""
    if era is None or current is None or era == current:
        return seg
    from pyspark.sql import functions as F

    era_by_id = {f[0]: f for f in era}
    cols = [F.col(c) for c in ("__f", "__p") if c in seg.columns]
    for fid, name, dtype in current:
        ef = era_by_id.get(fid)
        cols.append(F.col(ef[1]).cast(dtype).alias(name) if ef is not None
                    else F.lit(None).cast(dtype).alias(name))
    cols += [F.col(c) for c in seg.columns if c.startswith(_P_PREFIX)]
    return seg.select(*cols)


def _translate_preds(preds, era: list | None, current: list) -> list | None:
    """Rewrite predicate column names from the current schema to a
    file era's write-time names (by field id) for stats pruning.
    Returns None when some predicate references a field the era does
    not have (added later): such a file holds only NULLs for it, and
    no supported op ('=', '<', '<=', '>', '>=') matches NULL — the
    file is provably prunable. Hidden/unknown columns pass through
    (conservative: stats lookup just misses)."""
    if era is None or era == current:
        return preds
    cur_by_name = {f[1]: f[0] for f in current}
    era_by_id = {f[0]: f[1] for f in era}
    out = []
    for col, op, val in preds:
        if col.startswith(_P_PREFIX) or col not in cur_by_name:
            out.append((col, op, val))
            continue
        ename = era_by_id.get(cur_by_name[col])
        if ename is None:
            return None
        out.append((ename, op, val))
    return out


def merge_upsert(spark: SparkSession, table: str, updates: DataFrame,
                 key: str, max_retries: int = 3,
                 cluster_by: list[str] | None = None,
                 props: dict | None = None) -> int:
    """Copy-on-write row-level MERGE (upsert by ``key``): rows of
    ``updates`` replace same-key rows in the table; new keys are
    inserted. Returns the new snapshot id.

    Scan-planning does the heavy lifting: only data files whose
    manifest key-range stats can contain an update key are read and
    rewritten — on a range-clustered table a merge touching 0.1% of
    the key space rewrites ~0.1% of the files (plus the one new file
    set), never the whole table. Untouched files are carried by
    reference. This is Iceberg/Delta copy-on-write MERGE INTO:
    the commit is an 'overwrite' (removed_files = the rewritten
    files, added_files = rewritten survivors + upserts) under
    expected_parent CAS, retried on :class:`CommitConflict` so a
    concurrent append never has its rows silently dropped.

    ``updates`` must carry the full table schema; duplicate keys
    within ``updates`` are invalid (enforced distributedly).
    """
    from pyspark.sql import functions as F

    _check_updates(spark, table, updates, key, "merge_upsert")
    updates = updates.localCheckpoint(eager=True)

    last_err: Exception | None = None
    for _ in range(max_retries):
        base = current_snapshot_id(table)
        if base is None:
            raise ValueError(f"{table}: empty table (no CURRENT)")
        view = _plan_full(table, base)
        if view.deletes:
            raise ValueError(
                f"{table}: snapshot {view.deletes[0][0]} carries "
                "merge-on-read delete files; a copy-on-write merge "
                "planned from raw data files would resurrect deleted "
                "rows — compact() first (folds the deletes in) or "
                "keep merging with mor_upsert/mor_delete")
        stats = view.stats
        # files whose key-range may contain an update key: broadcast
        # the (tiny, manifest-derived) range list against the update
        # keys — one distributed semi-join, no driver-side key set
        ranged, unranged = [], []
        for f in view.files:
            cs = stats.get(f, {}).get("cols", {}).get(key)
            if cs and cs.get("t") not in ("i", "s"):
                cs = None  # only int/string key ranges join cleanly
            if stats.get(f, {}).get("rows") == 0:
                continue  # empty file: nothing to rewrite
            (ranged if cs else unranged).append(
                (f, cs["min"], cs["max"]) if cs else (f, None, None))
        touched = [f for f, *_ in unranged]  # no stats -> must rewrite
        if ranged:
            rdf = spark.createDataFrame(
                [(f, lo, hi) for f, lo, hi in ranged], ["_f", "_lo", "_hi"])
            # string keys: compare as UTF-8 BYTES so the comparison is
            # PINNED to the order the parquet footer stats were
            # computed in (unsigned UTF-8 bytes), independent of the
            # session's string collation. Spark's default UTF8_BINARY
            # collation already compares that way, but a session
            # running UTF8_LCASE or an ICU collation would reorder
            # plain string `>=` (e.g. case-folding) and could skip the
            # very file holding the key, leaving the stale row next to
            # the insert. BinaryType comparison is always unsigned
            # bytewise — collation-proof.
            from pyspark.sql.types import StringType

            # type check via the schema object, NOT the dtype string:
            # under a non-default session collation the dtype renders
            # as "string collate UTF8_LCASE" and an exact-string match
            # would silently fall through to the collated compare —
            # the very divergence this branch exists to prevent
            if isinstance(updates.schema[key].dataType, StringType):
                k = F.encode(F.col("_k"), "UTF-8")
                lo, hi = (F.encode(F.col("_lo"), "UTF-8"),
                          F.encode(F.col("_hi"), "UTF-8"))
            else:
                k, lo, hi = F.col("_k"), F.col("_lo"), F.col("_hi")
            hit = (updates.select(F.col(key).alias("_k"))
                   .join(F.broadcast(rdf), (k >= lo) & (k <= hi))
                   .select("_f").distinct().collect())
            touched += [r["_f"] for r in hit]
        if touched:
            # era-project the touched files (a rename between a file's
            # write and this merge must not fork column names in the
            # rewritten union; old-era files lack stats under the
            # current key name, so they all land here conservatively)
            survivors = (_drop_hidden(_read_eras(spark, sorted(touched),
                                                 view))
                         .join(updates.select(key), key, "left_anti"))
            new_data = survivors.unionByName(updates)
        else:
            new_data = updates
        try:
            return commit(new_data, table, operation="overwrite",
                          removed_files=sorted(touched),
                          expected_parent=base, cluster_by=cluster_by,
                          props=props)
        except CommitConflict as e:
            last_err = e  # concurrent commit moved CURRENT: re-plan
    raise last_err if last_err else RuntimeError("merge_upsert failed")


def _check_updates(spark: SparkSession, table: str, updates: DataFrame,
                   key: str, who: str) -> None:
    """Validation shared by the upsert writers: the schema must match
    the table exactly — a silent cast here would fork the parquet
    physical types across data files — and keys must be unique and
    non-null (a NULL key never equi-matches, so the 'replaced' row
    would survive beside the insert)."""
    from pyspark.sql import functions as F

    expected = read_snapshot(spark, table).schema
    got = updates.schema
    if [(f.name, f.dataType) for f in expected.fields] != \
            [(f.name, f.dataType) for f in got.fields]:
        raise ValueError(
            f"{who}: updates schema {got.simpleString()} does not "
            f"match table schema {expected.simpleString()} — a silent "
            "cast here would fork the column types across data files "
            "(readers fail on INT32-vs-INT64 parquet mismatches)")
    bad = (updates.groupBy(key).agg(F.count("*").alias("n"))
           .filter((F.col("n") > 1) | F.col(key).isNull())
           .limit(1).collect())
    if bad:
        if bad[0][key] is None:
            raise ValueError(
                "updates carry a NULL merge key: null never equi-matches, "
                "so the 'replaced' old row would survive alongside the "
                "insert — reject up front instead of silently duplicating")
        raise ValueError(
            f"updates carry duplicate key {bad[0][key]!r}: one row per "
            "key is required (MERGE would be ambiguous)")


def mor_upsert(spark: SparkSession, table: str, updates: DataFrame,
               key: str) -> int:
    """MERGE-ON-READ row-level upsert (Iceberg v2 equality deletes,
    from the public design): instead of rewriting every data file whose
    key range overlaps an update (copy-on-write, :func:`merge_upsert`),
    the commit writes ONLY the new rows plus one small equality-delete
    file naming the replaced keys. Zero existing data files are
    touched — a merge of 100 rows into a 100 TB table writes ~100 rows.
    Readers apply the delete file as a broadcast anti-join against data
    files whose origin snapshot is older than this commit (a v2
    sequence-number check), so the upsert's own rows are never shadowed
    by its own delete keys. The read-side debt is bounded by the number
    of rowdelta commits since the last :func:`compact`, which folds all
    pending deletes into plain data files.

    Write-vs-read trade (the Iceberg v2 story verbatim): choose
    merge_upsert when merges are rare and reads are hot; choose
    mor_upsert when merges are frequent/small and a periodic compaction
    amortizes the read-side anti-joins.

    No CAS/retry loop is needed: the delete applies to *whatever* older
    files the chain holds, so the commit content does not depend on the
    parent snapshot — concurrent mor_upserts serialize on the commit
    lock and compose as last-writer-wins per key."""
    _check_updates(spark, table, updates, key, "mor_upsert")
    updates = updates.localCheckpoint(eager=True)
    return commit(updates, table, operation="rowdelta",
                  delete_keys=updates.select(key), delete_key=key)


def mor_delete(spark: SparkSession, table: str, keys: DataFrame,
               key: str) -> int:
    """Merge-on-read row-level DELETE: commits one small equality-
    delete file (the distinct non-null values of ``keys``'s ``key``
    column) and no data rows. ``read_snapshot`` hides the rows
    immediately; :func:`compact` makes it physical."""
    from pyspark.sql import functions as F

    if keys.filter(F.col(key).isNull()).limit(1).count():
        raise ValueError("delete keys contain NULL: an equality delete "
                         "on NULL never matches any row")
    empty = read_snapshot(spark, table).limit(0).localCheckpoint(eager=True)
    keys = keys.select(key).distinct().localCheckpoint(eager=True)
    return commit(empty, table, operation="rowdelta",
                  delete_keys=keys, delete_key=key)


def mor_delete_where(spark: SparkSession, table: str, predicates) -> int:
    """Merge-on-read POSITIONAL delete (Iceberg v2 position-delete
    files, public design): delete every CURRENT row matching the
    conjunctive ``predicates`` (plan_scan's (col, op, val) form) by
    committing one small parquet of (file, pos) coordinates — the
    file paths and row indexes come from Spark's ``_metadata`` scan
    columns, so no key column is needed at all (the equality-delete
    form can't express "delete where ts < cutoff" without touching
    every key). Data files are untouched; :func:`compact` makes it
    physical. Returns the new snapshot id, or the current id when
    nothing matched.

    Scale shape: the position scan is stats-pruned to the files that
    can match (plan_scan), reads only the predicate columns plus
    metadata, and the committed artifact is proportional to the
    DELETED rows, not the table."""
    from pyspark.sql import functions as F

    base = current_snapshot_id(table)
    if base is None:
        raise ValueError(f"{table}: empty table (no CURRENT)")
    # the position scan is read_where's delete-aware scan with the
    # (file, pos) coordinates kept, so rows already hidden by earlier
    # equality/positional deletes are never re-recorded — repeating the
    # same predicate delete is a no-op and the CDC feed never emits a
    # delete for a row that was not live
    live = _scan_where(spark, table, predicates, base, keep_coords=True)
    if live is None:
        return base
    hits = (live.select(F.col("__f").alias("file"),
                        F.col("__p").alias("pos"))
            .localCheckpoint(eager=True))
    if _empty(hits):
        return base
    empty = read_snapshot(spark, table).limit(0).localCheckpoint(eager=True)
    return commit(empty, table, operation="rowdelta", pos_deletes=hits)


def read_changes(spark: SparkSession, table: str, from_snapshot: int,
                 to_snapshot: int | None = None) -> DataFrame:
    """Row-level change-data feed over (from_snapshot, to_snapshot] —
    the scan ``read_incremental`` refuses for overwrite snapshots,
    done right (Delta CDF / Iceberg changelog scan, from the public
    designs): every change arrives as a full row plus
    ``_change_type`` ('insert' | 'delete'; an update is a
    delete+insert pair of the same key) and ``_snapshot_id``.

    Per snapshot along the chain:

    - 'append': its added rows are inserts.
    - 'replace' (compaction): no logical change — skipped.
    - 'overwrite' (copy-on-write merge): the delta is the DIFF of the
      rewritten files against the files they replaced —
      ``added EXCEPT ALL removed`` are inserts, ``removed EXCEPT ALL
      added`` are deletes; survivor rows copied verbatim cancel out.
      The diff touches only the files the merge touched, so changelog
      cost follows the merge size, not the table.
    """
    import functools

    from pyspark.sql import functions as F

    to_sid = to_snapshot if to_snapshot is not None else current_snapshot_id(table)
    if to_sid is None:
        raise ValueError(f"{table}: empty table (no CURRENT)")
    # ancestry is validated before any read: a from_snapshot orphaned by
    # a rollback (or a typo) must raise, never emit the whole history
    mans = list(_chain(table, to_sid, stop=from_snapshot))
    for man in mans:
        if man.get("expired"):
            raise ValueError(
                f"changelog range ({from_snapshot}, {to_sid}] crosses "
                f"expired snapshot {man['snapshot_id']}: its change files "
                "may be vacuumed; start from a kept snapshot")
    # schema evolution: every file read below is projected onto the
    # CURRENT-at-to_sid schema by field id (an overwrite's
    # removed_files may predate an evolve that its added_files
    # postdate), so change rows always arrive in one uniform schema
    view = _plan_full(table, to_sid)

    def rd(files: list[str]) -> DataFrame:
        return _drop_hidden(_read_eras(spark, files, view))

    chunks: list[DataFrame] = []
    for man in mans:
        op = man.get("operation", "append")
        snap = F.lit(man["snapshot_id"]).alias("_snapshot_id")
        ins = ("*", F.lit("insert").alias("_change_type"), snap)
        dels = ("*", F.lit("delete").alias("_change_type"), snap)
        if op == "append" and man["added_files"]:
            chunks.append(rd(man["added_files"]).select(*ins))
        elif op == "overwrite":
            added = (rd(man["added_files"])
                     if man["added_files"] else None)
            removed = (rd(man["removed_files"])
                       if man.get("removed_files") else None)
            if added is not None and removed is not None:
                chunks.append(added.exceptAll(removed).select(*ins))
                chunks.append(removed.exceptAll(added).select(*dels))
            elif added is not None:
                chunks.append(added.select(*ins))
            elif removed is not None:
                chunks.append(removed.select(*dels))
        elif op == "rowdelta":
            # merge-on-read delta: inserts are the commit's own added
            # rows; deletes are the PARENT-state rows bearing a deleted
            # key (an update therefore appears as the standard
            # delete+insert pair). The parent read is pruned to the
            # delete-key range recorded in the manifest, so changelog
            # cost follows the delta size on a key-clustered table.
            if man["added_files"]:
                chunks.append(rd(man["added_files"]).select(*ins))
            if man.get("pos_delete_files"):
                # positional delta: the deleted rows ARE the rows at
                # the recorded (file, pos) coordinates — open only the
                # targeted files (collected from the tiny delete
                # parquet), semi-join on the coordinates
                pdel = spark.read.parquet(*man["pos_delete_files"])
                targeted = sorted(r["file"] for r in
                                  pdel.select("file").distinct().collect())
                live = [f for f in targeted if Path(f).exists()]
                pk = pdel.select(F.col("file").alias("__f"),
                                 F.col("pos").alias("__p")).distinct()
                if live:
                    prior = _read_eras(spark, live, view, coords=True)
                    chunks.append(_drop_hidden(
                        prior.join(F.broadcast(pk), ["__f", "__p"],
                                   "left_semi").drop("__f", "__p"))
                        .select(*dels))
            if man.get("delete_files"):
                k = man["delete_key"]
                rng = man.get("delete_key_range")
                if rng is not None:
                    prior = read_where(
                        spark, table,
                        [(k, ">=", rng[0]), (k, "<=", rng[1])],
                        snapshot_id=man["parent"])
                else:
                    prior = read_snapshot(spark, table, man["parent"])
                dk = (spark.read.parquet(*man["delete_files"])
                      .select(k).distinct())
                chunks.append(
                    prior.join(F.broadcast(dk), k, "left_semi").select(*dels))
    if not chunks:
        empty = read_snapshot(spark, table, to_sid).limit(0)
        return empty.select(
            "*", F.lit("insert").alias("_change_type"),
            F.lit(0).alias("_snapshot_id")).limit(0)
    return _drop_hidden(
        functools.reduce(lambda a, b: a.unionByName(b), chunks))


def snapshot_row_count(table: str,
                       snapshot_id: int | None = None) -> int | None:
    """METADATA-ONLY row count of a snapshot view: sum the parquet
    footer row counts of the live data files — zero data pages read,
    no Spark job (the Iceberg `COUNT(*)` fast path; a 10^12-row table
    answers from its manifests). Returns ``None`` when merge-on-read
    delete files are in view: the exact count then depends on which
    delete keys/coordinates actually match, which requires a data
    read — the same honest fallback Iceberg makes (``compact`` makes
    deletes physical and restores the fast path). Cost is O(live
    files) footer opens; 'replace'/'overwrite' semantics follow the
    normal chain walk."""
    import pyarrow.parquet as pq

    sid = snapshot_id if snapshot_id is not None \
        else current_snapshot_id(table)
    if sid is None:
        return 0
    view = _plan_full(table, sid)
    if view.deletes:
        return None
    return sum(pq.ParquetFile(f).metadata.num_rows for f in view.files)


def snapshots_table(spark: SparkSession, table: str) -> DataFrame:
    """Iceberg's ``$snapshots``/``$history`` metadata surface as a
    DataFrame: the reachable snapshot chain (root first) with the
    per-commit bookkeeping a maintenance job queries — operation,
    added/removed file counts, appended rows, delete-file counts,
    commit wall time. Driver-side manifest walk (metadata is O(chain),
    never data-sized); the result is a normal DataFrame, so the
    "which commits wrote the most files" / "when did compaction last
    run" questions are one groupBy away, exactly like querying
    ``db.table$snapshots`` in Iceberg."""
    from pyspark.sql import types as T

    rows = []
    for seq, man in enumerate(snapshot_log(table)):
        rows.append((
            seq,
            int(man["snapshot_id"]),
            None if man["parent"] is None else int(man["parent"]),
            man.get("operation", "append"),
            len(man.get("added_files", [])),
            int(man.get("added_rows", 0) or 0),
            len(man.get("removed_files", []) or []),
            len(man.get("delete_files", []) or []),
            float(man.get("committed_at", 0.0)),
        ))
    schema = T.StructType([
        T.StructField("sequence", T.LongType(), False),
        T.StructField("snapshot_id", T.LongType(), False),
        T.StructField("parent_id", T.LongType(), True),
        T.StructField("operation", T.StringType(), False),
        T.StructField("n_added_files", T.IntegerType(), False),
        T.StructField("n_added_rows", T.LongType(), False),
        T.StructField("n_removed_files", T.IntegerType(), False),
        T.StructField("n_delete_files", T.IntegerType(), False),
        T.StructField("committed_at", T.DoubleType(), False),
    ])
    return spark.createDataFrame(rows, schema)


def files_table(spark: SparkSession, table: str,
                snapshot_id: int | None = None) -> DataFrame:
    """Iceberg's ``$files`` metadata surface: the LIVE file set of a
    snapshot's read view — data files with their origin snapshot and
    footer row counts, plus the equality-delete files that still
    shadow older data (``kind`` = 'data' | 'eq_delete'). Row counts
    come from the manifests' footer stats (no data pages are read);
    file names are basenames, so the output is stable across the
    table's temp-dir location."""
    from pathlib import PurePath

    from pyspark.sql import types as T

    sid = (snapshot_id if snapshot_id is not None
           else current_snapshot_id(table))
    if sid is None:
        raise ValueError(f"{table}: empty table (no CURRENT)")
    view = _plan_full(table, sid)

    def _rows_of(f: str) -> int:
        st = view.stats.get(f)
        if st is not None:
            return int(st.get("rows", -1))
        # delete files are not in the manifests' data-file stats;
        # one driver-side footer read (KBs) recovers the count
        import pyarrow.parquet as pq

        return int(pq.ParquetFile(f).metadata.num_rows)

    rows = []
    for origin, files, _ in view.groups:
        for f in files:
            rows.append((int(origin), PurePath(f).name, "data",
                         _rows_of(f)))
    for dsid, key, dfiles in view.deletes:
        kind = "eq_delete" if key is not None else "pos_delete"
        for f in dfiles:
            rows.append((int(dsid), PurePath(f).name, kind,
                         _rows_of(f)))
    schema = T.StructType([
        T.StructField("origin_snapshot", T.LongType(), False),
        T.StructField("file_name", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), False),
    ])
    return spark.createDataFrame(rows, schema)


def diff_refs(spark: SparkSession, table: str, ref_a=None, ref_b=None) -> DataFrame:
    """Row-level diff between two snapshot anchors (ids, ref names, or
    None = CURRENT): rows visible at A but not B come back op='added',
    the reverse op='removed' (multiset semantics via exceptAll, so
    duplicate-row count changes surface too). This is the DIVERGED-refs
    comparison — audit a WAP branch against main, compare a tag to
    today — where no single changelog connects the two anchors; for
    chain-related anchors read_changes/read_incremental is the
    delta-proportional path and this full-table diff is the wrong
    tool. Cost: one scan + one hash aggregate per side (the exceptAll
    shuffle), ∝ the two visible row sets."""
    from pyspark.sql import functions as F

    def _resolve(r):
        if r is None:
            return None
        if isinstance(r, str):
            return ref_snapshot(table, r)
        return r

    a = read_snapshot(spark, table, _resolve(ref_a))
    b = read_snapshot(spark, table, _resolve(ref_b))
    return (a.exceptAll(b).withColumn("op", F.lit("added"))
            .unionByName(b.exceptAll(a).withColumn("op", F.lit("removed"))))
