"""Table catalog: Iceberg when the runtime jar is present, otherwise the
ICEBERG METADATA MODEL re-implemented over parquet directories (SURVEY.md §7
step 1) — versioned snapshot manifests + an atomically-swapped current
pointer, immutable versioned partition data, time-travel reads, and
``expire_snapshots`` garbage collection.

The reference's sink is InfluxDB (DB/retention-policy creation at
Influxer/Program.cs:115-140, Influxer/GenericFile.cs:250-280).  Our sink is a
table catalog:

- **Iceberg path** (preferred on a real cluster): ``df.writeTo(tbl)`` with
  ``PARTITIONED BY (days(warc_ts))`` so retention expiry is a metadata-only
  partition drop and time-range queries prune partitions.  Probe with
  :func:`iceberg_available`; this sandbox has no runtime jar and no network,
  so the model below carries the same semantics.
- **Snapshot-manifest path** (this implementation):

  * data layout: ``<table>/p=<value>/v=<uuid>/part-*.parquet`` — partition
    data is IMMUTABLE and versioned; an overwrite writes a NEW ``v=`` dir and
    never touches the old bytes (Iceberg's immutable data files).
  * metadata: ``_manifest.v<N>.json`` snapshot files + a ``_current`` pointer
    committed by atomic rename — the pointer flip is the ONLY visibility
    point, so readers see either the old snapshot or the new one, never a
    torn mix (Iceberg's metadata.json swap).
  * ``read_committed(..., as_of=<snapshot>)`` = time travel
    (``VERSION AS OF``); :meth:`snapshots` lists history.
  * :meth:`expire_snapshots` = Iceberg's ``expire_snapshots``: retire old
    manifest versions and delete exactly the data dirs no retained snapshot
    references.
  * :meth:`drop_partition` is metadata-only (a new snapshot without the
    partition); bytes are reclaimed by ``expire_snapshots`` — the analogue of
    ``ALTER TABLE … DROP PARTITION`` + expiry, and what the retention DAG
    calls.

Per-partition commits stay idempotent (dynamic-overwrite semantics), which
is what makes checkpoint/resume exact (SURVEY.md §7 hard part iv).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_RE = re.compile(r"_manifest\.v(\d+)\.json$")
_MISSING = object()  # sentinel: "property not set" ≠ "property is None"
# table property: the column order every write of the table sorts each
# partition's file by (Iceberg's ``write.sort-order``)
SORT_ORDER = "sort_order"


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8):
    """Morton (Z-order) clustering key over ``cols`` as one pure Column
    expression — the layout math behind Iceberg's ``rewrite_data_files``
    ZORDER strategy.

    Each column is first reduced to a RANK bucket (``2**bits`` quantile
    buckets from one ``percentile_approx`` aggregate over all columns at
    once), then the bucket ids' bits are interleaved.  Rank buckets rather
    than Iceberg's raw byte-slices: quantiles stay balanced under the skew a
    crawl corpus always has (hot urls, hot metrics), so every bucket — and
    therefore every output file — holds ~equal row counts regardless of the
    value distribution.  Strings get an order-preserving 7-byte prefix
    (left-justified, base-16 → double; monotone, ties only share a bucket),
    numerics/timestamps cast to double.  NULL ranks lowest (bucket 0).

    Why Z-order at all: a SORT rewrite on (a, b) makes parquet min/max
    selective on ``a`` but leaves ``b``'s per-file range as wide as the
    whole partition — predicates on ``b`` alone prune nothing.  Interleaving
    bits gives every listed column per-file ranges ~``2**(bits/ncols)``×
    narrower than the partition's, so single-column predicates on ANY of
    them prune files/row groups.  The trade is the same as SORT: one
    maintenance-time shuffle, paid once.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if bits * len(cols) > 62:
        raise ValueError("bits * len(cols) must fit a signed long (≤ 62)")
    nb = 1 << bits
    qs = [i / nb for i in range(1, nb)]
    keyed = []
    for c in cols:
        if isinstance(df.schema[c].dataType, StringType):
            # order-preserving numeric image of the string's first 7 BYTES
            # (not characters: rpad counts characters, and one multi-byte
            # UTF-8 char would push the hex image past conv's unsigned-64
            # range — an ANSI ARITHMETIC_OVERFLOW crash).  substr on the
            # binary slices bytes; the x'20' pad left-justifies so
            # 'b' > 'ab' survives the widening
            k = F.expr(
                f"cast(conv(hex(rpad(substr(cast(`{c}` as binary), 1, 7), "
                "7, x'20')), 16, 10) as double)"
            )
        else:
            k = F.col(c).cast("double")
        keyed.append(k)
    bounds = df.agg(
        *[
            F.percentile_approx(k, qs, 10000).alias(f"b{i}")
            for i, k in enumerate(keyed)
        ]
    ).first()
    z = F.lit(0).cast("long")
    for i, k in enumerate(keyed):
        bl = [b for b in (bounds[f"b{i}"] or []) if b is not None]
        if bl:
            barr = F.array(*[F.lit(float(b)) for b in bl])
            bucket = F.size(F.filter(barr, lambda x: x < k)).cast("long")
        else:
            bucket = F.lit(0).cast("long")
        for j in range(bits):
            z = z + F.shiftleft(
                F.shiftright(bucket, j).bitwiseAND(F.lit(1)),
                j * len(cols) + i,
            )
    return z


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


class CommitConflictError(RuntimeError):
    """Another writer committed a snapshot after this manifest was read.

    Iceberg's optimistic-concurrency contract: a commit is only valid
    against the snapshot it was derived from; on conflict the writer
    re-reads current metadata, re-applies its change, and retries —
    blind last-writer-wins would silently drop the other writer's
    partitions.  Callers catch this and redo read→modify→commit."""


@dataclass
class TableCatalog:
    """Parquet-directory catalog with snapshot-manifest atomic commits."""

    root: str
    runs: list[dict[str, Any]] = field(default_factory=list)

    def table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    # ------------------------------------------------------------------
    # snapshot metadata
    # ------------------------------------------------------------------

    def _current_path(self, name: str) -> str:
        return os.path.join(self.table_path(name), "_current")

    def _manifest_file(self, name: str, version: int) -> str:
        return os.path.join(self.table_path(name), f"_manifest.v{version:06d}.json")

    def current_snapshot(self, name: str) -> int | None:
        p = self._current_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def snapshots(self, name: str) -> list[int]:
        """All retained snapshot versions, ascending (Iceberg history)."""
        tdir = self.table_path(name)
        if not os.path.isdir(tdir):
            return []
        out = []
        for fn in os.listdir(tdir):
            m = _MANIFEST_RE.match(fn)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    # ------------------------------------------------------------------
    # named snapshot refs (Iceberg tags)
    # ------------------------------------------------------------------

    def _refs_path(self, name: str) -> str:
        return os.path.join(self.table_path(name), "_refs.json")

    def _read_refs(self, name: str) -> dict[str, dict[str, int]]:
        p = self._refs_path(name)
        if not os.path.exists(p):
            return {"tags": {}, "branches": {}}
        with open(p) as f:
            raw = json.load(f)
        return {
            "tags": {k: int(v) for k, v in raw.get("tags", {}).items()},
            "branches": {k: int(v) for k, v in raw.get("branches", {}).items()},
        }

    def tags(self, name: str) -> dict[str, int]:
        """Named snapshot refs: tag → snapshot id (Iceberg's ``tags``)."""
        return self._read_refs(name)["tags"]

    def branches(self, name: str) -> dict[str, int]:
        """Branch refs: branch → head snapshot id (Iceberg's ``branches``)."""
        return self._read_refs(name)["branches"]

    def _write_refs(self, name: str, refs: dict[str, dict[str, int]]) -> None:
        tdir = self.table_path(name)
        os.makedirs(tdir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=tdir, suffix=".refs")
        with os.fdopen(fd, "w") as f:
            json.dump(refs, f, indent=1)
        os.replace(tmp, self._refs_path(name))  # atomic on POSIX

    def _table_lock(self, name: str) -> "TableCatalog._CommitLock":
        """The per-table commit lock — shared by snapshot commits AND ref
        (tag/branch) mutations, so a read→mutate→write of the refs file
        can't lose a concurrent writer's ref, and fast_forward's
        ancestry-check→pointer-flip is atomic against main-line commits."""
        tdir = self.table_path(name)
        os.makedirs(tdir, exist_ok=True)
        return self._CommitLock(os.path.join(tdir, ".commit.lock"))

    def create_tag(self, name: str, tag: str, snapshot: int | None = None) -> int:
        """Pin a snapshot under a name (Iceberg ``CREATE TAG``): the tagged
        snapshot becomes addressable as ``as_of=tag`` on every read path
        AND immune to :meth:`expire_snapshots` until the tag is dropped —
        the audit/rollback/reproducibility anchor ("the dataset release we
        trained run 47 on") that bare integer time travel cannot give,
        because untagged history is exactly what expiry reaps."""
        snap = self.current_snapshot(name) if snapshot is None else snapshot
        if snap is None or snap not in self.snapshots(name):
            raise ValueError(
                f"table {name}: cannot tag snapshot {snap!r} "
                f"(retained: {self.snapshots(name)})"
            )
        with self._table_lock(name):
            refs = self._read_refs(name)
            tags = refs["tags"]
            if tag in tags and tags[tag] != snap:
                raise ValueError(
                    f"table {name}: tag {tag!r} already pins snapshot "
                    f"{tags[tag]} — drop it first (tags are immutable refs)"
                )
            tags[tag] = snap
            self._write_refs(name, refs)
        return snap

    def drop_tag(self, name: str, tag: str) -> None:
        with self._table_lock(name):
            refs = self._read_refs(name)
            if tag not in refs["tags"]:
                raise ValueError(f"table {name}: no tag {tag!r}")
            del refs["tags"][tag]
            self._write_refs(name, refs)

    def create_branch(
        self, name: str, branch: str, from_snapshot: int | None = None
    ) -> int:
        """Fork a write-isolated snapshot line (Iceberg ``CREATE BRANCH``):
        commits made with ``branch=`` move only the branch head; readers of
        the main line never see them until :meth:`fast_forward` publishes
        the branch — the multi-commit audit workflow (land several waves,
        validate the whole, publish atomically) that single-commit WAP
        (:meth:`stage_partitions`) cannot express."""
        snap = self.current_snapshot(name) if from_snapshot is None else from_snapshot
        if snap is None or snap not in self.snapshots(name):
            raise ValueError(
                f"table {name}: cannot branch from snapshot {snap!r} "
                f"(retained: {self.snapshots(name)})"
            )
        with self._table_lock(name):
            refs = self._read_refs(name)
            if branch in refs["branches"]:
                raise ValueError(
                    f"table {name}: branch {branch!r} already exists"
                )
            refs["branches"][branch] = snap
            self._write_refs(name, refs)
        return snap

    def drop_branch(self, name: str, branch: str) -> None:
        with self._table_lock(name):
            refs = self._read_refs(name)
            if branch not in refs["branches"]:
                raise ValueError(f"table {name}: no branch {branch!r}")
            del refs["branches"][branch]
            self._write_refs(name, refs)

    def _ancestors(self, name: str, snapshot: int) -> set[int]:
        """Snapshot ids reachable from ``snapshot`` via parent links."""
        out: set[int] = set()
        cur: int | None = snapshot
        while cur is not None and cur not in out:
            out.add(cur)
            mf = self._manifest_file(name, cur)
            if not os.path.exists(mf):
                break
            with open(mf) as f:
                cur = json.load(f).get("parent_id")
        return out

    def fast_forward(self, name: str, branch: str) -> int:
        """Publish a branch (Iceberg ``fast_forward``): flip the main
        pointer to the branch head in one atomic step.  Refused unless the
        current main snapshot is an ANCESTOR of the branch head — if main
        moved since the fork, a blind flip would erase those commits
        (re-branch, re-apply, retry: the same optimistic-concurrency
        contract as :class:`CommitConflictError` on single commits)."""
        with self._table_lock(name):
            head = self.branches(name).get(branch)
            if head is None:
                raise ValueError(f"table {name}: no branch {branch!r}")
            cur = self.current_snapshot(name)
            if cur is not None and cur not in self._ancestors(name, head):
                raise CommitConflictError(
                    f"table {name}: main is at {cur}, not an ancestor of "
                    f"branch {branch!r} head {head} — cannot fast-forward"
                )
            tdir = self.table_path(name)
            fd, tmp = tempfile.mkstemp(dir=tdir, suffix=".current")
            with os.fdopen(fd, "w") as f:
                f.write(str(head))
            os.replace(tmp, self._current_path(name))
        return head

    def resolve_ref(self, name: str, ref: int | str) -> int:
        """Resolve a ref (tag/branch name or snapshot id) to a snapshot id."""
        if isinstance(ref, str):
            refs = self._read_refs(name)
            if ref in refs["tags"]:
                return refs["tags"][ref]
            if ref in refs["branches"]:
                return refs["branches"][ref]
            raise ValueError(
                f"table {name}: unknown ref {ref!r} "
                f"(tags: {sorted(refs['tags'])}, "
                f"branches: {sorted(refs['branches'])})"
            )
        return ref

    def read_manifest(
        self, name: str, as_of: int | str | None = None
    ) -> dict[str, Any]:
        if isinstance(as_of, str):
            as_of = self.resolve_ref(name, as_of)
        version = self.current_snapshot(name) if as_of is None else as_of
        if version is None:
            # legacy single-manifest layout (pre-snapshot catalogs)
            legacy = os.path.join(self.table_path(name), "_manifest.json")
            if os.path.exists(legacy):
                with open(legacy) as f:
                    return json.load(f)
            return {"partitions": {}, "lineage": [], "snapshot_id": None}
        mf = self._manifest_file(name, version)
        if not os.path.exists(mf):
            raise ValueError(
                f"table {name} has no snapshot {version} "
                f"(retained: {self.snapshots(name)})"
            )
        with open(mf) as f:
            return json.load(f)

    class _CommitLock:
        """Per-table exclusive commit lock (O_CREAT|O_EXCL lockfile): makes
        the _commit_manifest base-check → manifest-write → pointer-flip
        sequence atomic ACROSS PROCESSES on a shared filesystem — without
        it, two committers could both pass the stale-base check and the
        later flip would silently erase the earlier snapshot.  A lock
        older than ``stale_s`` is broken (crashed holder).  On an object
        store this role moves to the metastore's conditional swap, as in
        real Iceberg."""

        def __init__(self, path: str, timeout_s: float = 30.0,
                     stale_s: float = 60.0):
            self.path, self.timeout_s, self.stale_s = path, timeout_s, stale_s

        def __enter__(self):
            deadline = time.time() + self.timeout_s
            while True:
                try:
                    fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    os.write(fd, str(os.getpid()).encode())
                    os.close(fd)
                    return self
                except FileExistsError:
                    try:
                        if time.time() - os.path.getmtime(self.path) > self.stale_s:
                            os.remove(self.path)  # crashed holder
                            continue
                    except OSError:
                        continue  # holder released between check and stat
                    if time.time() > deadline:
                        raise TimeoutError(
                            f"commit lock {self.path} held past "
                            f"{self.timeout_s}s"
                        ) from None
                    time.sleep(0.01)

        def __exit__(self, *exc):
            try:
                os.remove(self.path)
            except OSError:
                pass

    def _commit_manifest(
        self, name: str, manifest: dict[str, Any], branch: str | None = None
    ) -> int:
        """Write the next snapshot manifest, then atomically flip the
        pointer — _current for main-line commits, the branch ref for
        ``branch=`` commits — the single visibility point (Iceberg's
        metadata.json swap).  Version numbers are unique across ALL lines
        (max retained + 1), so a branch and main never collide.  Runs
        under the per-table commit lock; a caller whose manifest is stale
        gets :class:`CommitConflictError` and should re-read + reapply
        (:meth:`_commit_apply` automates that)."""
        with self._table_lock(name):
            return self._commit_manifest_locked(name, manifest, branch)

    def _commit_manifest_locked(
        self, name: str, manifest: dict[str, Any], branch: str | None = None
    ) -> int:
        tdir = self.table_path(name)
        if branch is not None:
            refs = self._read_refs(name)
            if branch not in refs["branches"]:
                raise ValueError(f"table {name}: no branch {branch!r}")
            parent = refs["branches"][branch]
        else:
            parent = self.current_snapshot(name)
        base = manifest.get("snapshot_id")
        if base != parent:
            # stale base: someone committed since this manifest was read
            # (or the caller holds a time-travel manifest) — committing it
            # would silently erase the other writer's snapshot
            raise CommitConflictError(
                f"table {name}: manifest was read at snapshot {base} but "
                f"{'branch ' + branch if branch else 'current'} head is "
                f"{parent}; re-read, re-apply, retry"
            )
        retained = self.snapshots(name)
        version = max(retained or [0], default=0) + 1
        if parent is not None:
            version = max(version, parent + 1)
        manifest["snapshot_id"] = version
        manifest["parent_id"] = parent
        manifest["committed_at"] = time.time()
        with open(self._manifest_file(name, version), "w") as f:
            json.dump(manifest, f, indent=1, default=str)
        if branch is not None:
            refs["branches"][branch] = version
            self._write_refs(name, refs)
            return version
        fd, tmp = tempfile.mkstemp(dir=tdir, suffix=".current")
        with os.fdopen(fd, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._current_path(name))  # atomic on POSIX
        return version

    def _commit_apply(
        self,
        name: str,
        apply_fn,
        branch: str | None = None,
        retries: int = 10,
    ) -> int:
        """Iceberg's commit-retry loop: read the head manifest, let
        ``apply_fn(manifest)`` mutate it, commit; on
        :class:`CommitConflictError` re-read the NEW head and reapply.
        Valid because the writers that use it make metadata-only,
        per-partition-disjoint changes whose data dirs are already staged
        on disk — reapplying onto a newer base composes both writers'
        partitions instead of losing one.  ``apply_fn`` must therefore be
        re-runnable against any base manifest."""
        last: CommitConflictError | None = None
        for attempt in range(retries + 1):
            base = self.branches(name).get(branch) if branch is not None else None
            manifest = self.read_manifest(name, as_of=base)
            apply_fn(manifest)
            try:
                return self._commit_manifest(name, manifest, branch=branch)
            except CommitConflictError as e:
                last = e
                time.sleep(0.01 * (attempt + 1))
        raise last  # type: ignore[misc]

    def set_table_property(self, name: str, key: str, value: Any) -> None:
        """Set a table-level property in a new snapshot (Iceberg's table
        properties analogue).  Used by the pipeline to pin schema-coupled
        config — e.g. the histogram bound list the tiers were built with,
        so quantile readers can't silently interpolate against the wrong
        bounds.  Idempotent: committing an unchanged value is a no-op.
        Conflicts with concurrent writers rebase and reapply
        (:meth:`_commit_apply`)."""
        if self.table_property(name, key, _MISSING) == value:
            return

        def _apply(manifest: dict[str, Any]) -> None:
            manifest.setdefault("properties", {})[key] = value

        self._commit_apply(name, _apply)

    def table_property(self, name: str, key: str, default: Any = None) -> Any:
        if not self.exists(name):
            return default
        return self.read_manifest(name).get("properties", {}).get(key, default)

    def exists(self, name: str) -> bool:
        return self.current_snapshot(name) is not None or os.path.exists(
            os.path.join(self.table_path(name), "_manifest.json")
        )

    # ------------------------------------------------------------------
    # reads
    # ------------------------------------------------------------------

    def committed_partitions(
        self, name: str, as_of: int | None = None
    ) -> dict[str, dict[str, Any]]:
        return self.read_manifest(name, as_of)["partitions"]

    def _partition_dir(self, name: str, pv: str, entry: dict[str, Any]) -> str:
        base = os.path.join(self.table_path(name), f"p={pv}")
        d = entry.get("dir")
        return os.path.join(base, d) if d else base  # legacy: unversioned dir

    def partition_paths(
        self, name: str, partition_values: list[str], as_of: int | None = None
    ) -> list[str]:
        """Resolve committed partition values to their live data dirs."""
        return self._dirs(name, self.read_manifest(name, as_of), partition_values)

    def _dirs(
        self, name: str, manifest: dict[str, Any], partition_values: list[str]
    ) -> list[str]:
        parts = manifest["partitions"]
        return [
            self._partition_dir(name, v, parts[v])
            for v in partition_values
            if v in parts
        ]

    def table_columns(self, name: str, as_of: int | None = None) -> list[str] | None:
        """Column names from the snapshot's recorded schema (wave writes
        record one), WITHOUT touching any data file — metadata-only, so
        callers can validate predicates before launching a job.  ``None``
        when the snapshot predates schema recording."""
        schema = self.read_manifest(name, as_of).get("schema")
        if schema is None:
            return None
        return [f["name"] for f in schema.get("fields", [])]

    @staticmethod
    def _read_paths(
        spark: SparkSession, manifest: dict[str, Any], paths: list[str]
    ) -> DataFrame:
        """Scan data dirs of one snapshot, PROJECTING its recorded schema
        (Iceberg schema evolution: a partition written before a column
        existed returns NULL for it) — no footer-sampling job infers types,
        which costs tens of ms per tier statement.  A snapshot that records
        no schema infers it."""
        reader = spark.read
        schema = manifest.get("schema")
        if schema is not None:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(*paths)

    def read_partitions(
        self, spark: SparkSession, name: str, partition_values: list[str],
        as_of: int | None = None,
    ) -> DataFrame | None:
        """The committed partitions among ``partition_values`` — the one
        partition-read path every tier, archive and index read goes
        through.  None when none of them is committed."""
        manifest = self.read_manifest(name, as_of)
        paths = self._dirs(name, manifest, partition_values)
        return self._read_paths(spark, manifest, paths) if paths else None

    def read_partition(
        self, spark: SparkSession, name: str, partition_value: str,
        as_of: int | None = None,
    ) -> DataFrame:
        df = self.read_partitions(spark, name, [partition_value], as_of)
        if df is None:
            raise ValueError(f"table {name} has no committed partition {partition_value}")
        return df

    def read_partitions_with_key(
        self, spark: SparkSession, name: str, partition_values: list[str],
        as_of: int | None = None,
    ) -> DataFrame:
        """Read given partitions keeping the partition value as column ``p``.

        ``p`` is extracted from the file path, NOT by Spark partition
        discovery: discovery would also parse the internal ``v=<uuid>``
        data-version dirs as a column named ``v``, silently SHADOWING any
        data column of that name (observed: a real double column ``v``
        read back as the uuid string).  Path extraction keeps one scan
        over one file index with no discovery at all.

        Projects the snapshot's recorded schema (:meth:`_read_paths`), so
        rewrite paths (delete/merge) can never lose a column that a given
        partition predates — it reads as NULL and rewrites as NULL."""
        from pyspark.sql import functions as F

        manifest = self.read_manifest(name, as_of)
        paths = self._dirs(name, manifest, partition_values)
        return self._read_paths(spark, manifest, paths).withColumn(
            "p", F.regexp_extract(F.input_file_name(), "/p=([^/]+)/", 1)
        )

    def read_committed(
        self, spark: SparkSession, name: str, as_of: int | None = None
    ) -> DataFrame:
        """Read ONLY snapshot-committed partitions (staging/uncommitted and
        orphaned data versions are invisible — Iceberg snapshot isolation).
        ``as_of`` reads a historical snapshot (VERSION AS OF), projecting
        the schema AS OF that snapshot, so history keeps its own shape."""
        manifest = self.read_manifest(name, as_of)
        paths = self._dirs(name, manifest, sorted(manifest["partitions"]))
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            raise ValueError(f"table {name} has no committed partitions")
        return self._read_paths(spark, manifest, paths)

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return self.read_committed(spark, name)

    # ------------------------------------------------------------------
    # column-stats data skipping (Iceberg manifest zone maps)
    # ------------------------------------------------------------------

    @staticmethod
    def _stat_value(v: Any) -> Any:
        """JSON-safe stat value.  Timestamps/dates serialize as their ISO
        string, which sorts identically to the value itself — so pruning
        comparisons against ISO-string bounds stay correct."""
        import datetime as _dt
        import decimal as _dec

        if isinstance(v, (_dt.datetime, _dt.date)):
            return v.isoformat(sep=" ") if isinstance(v, _dt.datetime) else v.isoformat()
        if isinstance(v, _dec.Decimal):
            return float(v)
        return v

    _TS_STR_RE = re.compile(r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}")

    @classmethod
    def _norm_bound(cls, v: Any) -> Any:
        """Normalize a caller-supplied pruning bound to the stats' stored
        form: datetime/date objects serialize the same way the stats did,
        and an ISO-8601 'T'-separated timestamp string becomes space-
        separated — ' ' (0x20) sorts BELOW 'T' (0x54), so comparing mixed
        separators lexically would silently prune live partitions."""
        import datetime as _dt

        if isinstance(v, (_dt.datetime, _dt.date)):
            v = cls._stat_value(v)
        if isinstance(v, str) and cls._TS_STR_RE.match(v):
            return v.replace("T", " ", 1)
        return v

    @classmethod
    def _collect_stats(
        cls, df: DataFrame, stats_cols: list[str], group_col: str | None
    ) -> dict[str, dict[str, Any]]:
        """Per-partition (min, max, null count) for the chosen columns in
        ONE partial-aggregated job — the metadata Iceberg writers collect
        from parquet footers while committing data files.  Bounded output:
        one row per partition value."""
        from pyspark.sql import functions as F

        aggs = []
        for c in stats_cols:
            aggs += [
                F.min(c).alias(f"__mn_{c}"),
                F.max(c).alias(f"__mx_{c}"),
                F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nu_{c}"),
            ]
        if group_col is None:
            rows = [("", df.agg(*aggs).collect()[0])]
        else:
            rows = [
                (r[group_col], r)
                for r in df.groupBy(group_col).agg(*aggs).collect()
            ]
        out: dict[str, dict[str, Any]] = {}
        for pv, r in rows:
            out[str(pv)] = {
                c: {
                    "min": cls._stat_value(r[f"__mn_{c}"]),
                    "max": cls._stat_value(r[f"__mx_{c}"]),
                    "nulls": int(r[f"__nu_{c}"]),
                }
                for c in stats_cols
            }
        return out

    def pruned_partitions(
        self,
        name: str,
        col: str,
        lo: Any = None,
        hi: Any = None,
        as_of: int | None = None,
    ) -> list[str]:
        """Partition values whose recorded [min, max] range for ``col``
        intersects [lo, hi] (either bound may be None = unbounded).

        Conservative by contract: a partition with NO recorded stats for
        ``col`` is always returned (never skipped), exactly like an Iceberg
        manifest entry without column bounds — pruning can only drop
        partitions the stats PROVE empty for the predicate.  All-null
        partitions (min is None with recorded stats) are skipped for a
        range predicate, which SQL comparison semantics make correct."""
        lo = self._norm_bound(lo)
        hi = self._norm_bound(hi)
        parts = self.committed_partitions(name, as_of)
        keep: list[str] = []
        for pv, entry in sorted(parts.items()):
            st = (entry.get("stats") or {}).get(col)
            if st is None:
                keep.append(pv)
                continue
            mn = self._norm_bound(st.get("min"))
            mx = self._norm_bound(st.get("max"))
            if mn is None:  # stats recorded, every value NULL
                # NULL never satisfies a range predicate — but with NO
                # bounds the residual filter keeps every row, so the
                # partition must be read (its other columns are live data)
                if lo is not None or hi is not None:
                    continue
                keep.append(pv)
                continue
            if lo is not None and mx < lo:
                continue
            if hi is not None and mn > hi:
                continue
            keep.append(pv)
        return keep

    def read_where(
        self,
        spark: SparkSession,
        name: str,
        col: str,
        lo: Any = None,
        hi: Any = None,
        as_of: int | None = None,
    ) -> DataFrame:
        """Range-predicate read with manifest-level data skipping: only
        partitions whose recorded column stats can contain ``col`` in
        [lo, hi] are opened (zero I/O for the rest — at 10^12 rows this is
        the difference between a metric-range scan touching 3 days and
        touching 3 years), then the exact residual filter applies on top.

        The answer is identical to filtering the full table — the stats
        only ever REMOVE provably-empty partitions (pinned by test)."""
        from pyspark.sql import functions as F

        keep = self.pruned_partitions(name, col, lo, hi, as_of)
        manifest = self.read_manifest(name, as_of)
        parts = manifest["partitions"]
        paths = [self._partition_dir(name, v, parts[v]) for v in keep]
        paths = [p for p in paths if os.path.exists(p)]
        schema = manifest.get("schema")
        if not paths:
            from pyspark.sql.types import StructType

            if schema is None:
                raise ValueError(
                    f"table {name}: every partition pruned and no recorded "
                    "schema to shape the empty result"
                )
            return spark.createDataFrame([], StructType.fromJson(schema))
        df = self._read_paths(spark, manifest, paths)
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
        return df.filter(cond)

    # ------------------------------------------------------------------
    # writes
    # ------------------------------------------------------------------

    def write_partition(
        self,
        df: DataFrame,
        name: str,
        partition_value: str,
        counters: dict[str, Any] | None = None,
        lineage: dict[str, Any] | None = None,
        stats_cols: list[str] | None = None,
    ) -> dict[str, Any]:
        """Idempotently (over)write one partition of ``name``.

        Data lands in an immutable NEW ``p=<value>/v=<uuid>/`` dir; the
        snapshot-pointer flip is the only visibility point, so a crash
        anywhere leaves the previous snapshot fully intact AND readable
        (old bytes are never touched — reclaimed later by expire/vacuum).

        ``stats_cols`` records per-partition (min, max, nulls) column stats
        in the manifest entry (Iceberg zone maps) — the input to
        :meth:`pruned_partitions` / :meth:`read_where` data skipping.
        """
        vdir = f"v={uuid.uuid4().hex[:8]}"
        dest = os.path.join(self.table_path(name), f"p={partition_value}", vdir)
        df.write.mode("overwrite").parquet(dest)

        entry = {
            "committed_at": time.time(),
            "dir": vdir,
            "counters": counters or {},
            "lineage": lineage or {},
        }
        if stats_cols:
            entry["stats"] = self._collect_stats(df, stats_cols, None)[""]
        schema_json = json.loads(df.schema.json())

        def _apply(manifest: dict[str, Any]) -> None:
            manifest["schema"] = schema_json
            manifest["partitions"][partition_value] = entry
            manifest["lineage"].append({"partition": partition_value, **entry})

        self._commit_apply(name, _apply)
        return entry

    def _stage(
        self,
        df: DataFrame,
        name: str,
        partition_values: Iterable[str],
        part_col: str,
        sort_cols: Sequence[str] | None = None,
        stats_cols: list[str] | None = None,
    ) -> tuple[dict[str, str], dict[str, dict[str, Any]]]:
        """The one stage-and-rename step under every multi-partition write
        and rewrite.  Rows cluster by ``part_col`` (``REBALANCE``: AQE
        merges small values into one task and splits a value only when it
        outgrows the advisory partition size), sort within each task by
        ``part_col`` then ``sort_cols`` (when None, the table's recorded
        order, minus columns this frame lacks), and land
        ``partitionBy(part_col)`` in a private staging dir.  Each value is
        thus ONE sorted file unless it is big enough to be worth several.
        Each staged value then renames into a fresh immutable
        ``p=<value>/v=<uuid>`` dir.

        Returns ``({value: vdir}, {value: stats})`` for the values that
        staged rows (zero-row values get no dir).  Nothing is visible until
        the caller commits a manifest naming the dirs; a crash before that
        leaves orphans that :meth:`expire_snapshots` sweeps."""
        if sort_cols is None:
            sort_cols = [
                c for c in self.table_property(name, SORT_ORDER, [])
                if c in df.columns
            ]
        tdir = self.table_path(name)
        staging = os.path.join(tdir, f".wave-{uuid.uuid4().hex[:8]}")
        (
            df.hint("rebalance", part_col)
            .sortWithinPartitions(part_col, *sort_cols)
            .write.mode("overwrite")
            .partitionBy(part_col)
            .parquet(staging)
        )
        staged = [
            pv for pv in dict.fromkeys(partition_values)
            if os.path.exists(os.path.join(staging, f"{part_col}={pv}"))
        ]
        stats: dict[str, dict[str, Any]] = {}
        if stats_cols and staged:
            # one partial-aggregated job over the just-staged bytes (not the
            # input plan, which may be expensive to recompute) — the same
            # footer-derived metadata an Iceberg writer commits
            stats = self._collect_stats(
                df.sparkSession.read.parquet(staging), stats_cols, part_col
            )
        vdirs: dict[str, str] = {}
        for pv in staged:
            vdir = f"v={uuid.uuid4().hex[:8]}"
            pdir = os.path.join(tdir, f"p={pv}")
            os.makedirs(pdir, exist_ok=True)
            os.replace(os.path.join(staging, f"{part_col}={pv}"),
                       os.path.join(pdir, vdir))
            vdirs[pv] = vdir
        shutil.rmtree(staging, ignore_errors=True)
        return vdirs, stats

    def write_partitions(
        self,
        df: DataFrame,
        name: str,
        partition_values: list[str],
        day_col: str = "day",
        counters_by_partition: dict[str, dict[str, Any]] | None = None,
        lineage_by_partition: dict[str, dict[str, Any]] | None = None,
        stats_cols: list[str] | None = None,
        branch: str | None = None,
        sort_cols: Sequence[str] | None = None,
    ) -> None:
        """Idempotently (over)write MANY partitions of ``name`` in ONE Spark
        job and ONE snapshot commit, each partition as one file sorted by
        the table's sort order (see :meth:`_stage`).

        ``sort_cols`` names that order and is recorded in the same data
        commit (Iceberg's ``write.sort-order``); a write that names none
        re-applies the recorded order, as do the rewrites
        (:meth:`delete_where`, :meth:`update_where`, :meth:`merge_into`).
        Sorted files make parquet row-group min/max selective on the
        leading columns, and one file per partition leaves binpack
        compaction nothing to do.

        This is the wave-mode commit path: pending partitions are written
        as one job, not a serial loop — the per-partition granularity
        survives only in the COMMIT (manifest) and RESUME (pending-set)
        logic.  A crash between the renames and the snapshot-pointer flip
        leaves the previous snapshot authoritative and every previously
        committed byte on disk; resume redoes the whole wave
        (partition-level exactly-once).  Partition values with zero staged
        rows get no manifest entry.
        """
        vdirs, stats_by_pv = self._stage(
            df, name, partition_values, day_col, sort_cols, stats_cols
        )
        # the manifest mutation below is metadata-only and re-runnable, so a
        # commit conflict (concurrent writer on this table) rebases and
        # reapplies instead of failing
        entries: dict[str, dict[str, Any]] = {}
        for pv, vdir in vdirs.items():
            entry = {
                "committed_at": time.time(),
                "dir": vdir,
                "counters": (counters_by_partition or {}).get(pv, {}),
                "lineage": (lineage_by_partition or {}).get(pv, {}),
            }
            if pv in stats_by_pv:
                entry["stats"] = stats_by_pv[pv]
            entries[pv] = entry
        # the CURRENT schema is snapshot metadata (Iceberg schema tracking):
        # data files exclude the partition column, and readers project this
        # schema so partitions written before a column was added return
        # NULL for it instead of silently dropping it
        schema_json = json.loads(df.drop(day_col).schema.json())

        def _apply(manifest: dict[str, Any]) -> None:
            manifest["schema"] = schema_json
            if sort_cols is not None:
                manifest.setdefault("properties", {})[SORT_ORDER] = list(sort_cols)
            for pv, entry in entries.items():
                manifest["partitions"][pv] = entry
                manifest["lineage"].append({"partition": pv, **entry})

        # branch commits fork from the BRANCH head, not main — the branch
        # accumulates its own partition map until fast_forward publishes it
        self._commit_apply(name, _apply, branch=branch)

    def amend_partition_counters(
        self, name: str, counters_by_partition: dict[str, dict[str, Any]]
    ) -> None:
        """Metadata-only commit merging counters into already-committed
        partition entries (no data files move — the Iceberg
        stats/properties-update shape).  Exists for the storage-backed
        wave path (``process_days(wave_reuse="storage")``), where per-day
        counters are computed FROM the committed read-back, so the data
        commit lands first and its counters follow as their own snapshot.
        Unknown partition values are ignored (a wave may stage zero rows
        for a day, which leaves no manifest entry to amend)."""

        def _apply(manifest: dict[str, Any]) -> None:
            for pv, counters in counters_by_partition.items():
                entry = manifest["partitions"].get(pv)
                if entry is not None:
                    entry.setdefault("counters", {}).update(counters)

        self._commit_apply(name, _apply)

    def stage_partitions(
        self,
        df: DataFrame,
        name: str,
        partition_values: list[str],
        day_col: str = "day",
    ) -> dict[str, Any]:
        """Write-Audit-Publish, step 1: land the wave's data dirs WITHOUT
        touching the current snapshot (Iceberg's WAP / branch-commit
        pattern).  Data is written into immutable ``v=`` dirs exactly as
        :meth:`write_partitions` would, but the manifest pointer is NOT
        flipped — readers still see the previous snapshot, while the audit
        job reads the staged dirs through the returned token's paths.
        Publish with :meth:`publish_staged`; abandon by simply not
        publishing (expire_snapshots sweeps unreferenced ``v=`` dirs —
        which also means: do NOT run expire between stage and publish, the
        same "maintenance pauses during WAP" rule real Iceberg WAP
        deployments follow).

        Returns the token: {"table", "schema", "entries": {pv: vdir},
        "paths": [staged dirs]}.
        """
        entries, _ = self._stage(df, name, partition_values, day_col)
        return {
            "table": name,
            "schema": json.loads(df.drop(day_col).schema.json()),
            "entries": entries,
            "paths": [
                os.path.join(self.table_path(name), f"p={pv}", vdir)
                for pv, vdir in entries.items()
            ],
        }

    def read_staged(self, spark: SparkSession, token: dict[str, Any]) -> DataFrame:
        """Read a staged (unpublished) wave for auditing — the data the
        CURRENT snapshot does not see."""
        from pyspark.sql.types import StructType

        if not token["paths"]:
            return spark.createDataFrame(
                [], StructType.fromJson(token["schema"])
            )
        return spark.read.schema(
            StructType.fromJson(token["schema"])
        ).parquet(*token["paths"])

    def publish_staged(
        self,
        token: dict[str, Any],
        counters_by_partition: dict[str, dict[str, Any]] | None = None,
        reason: str = "",
    ) -> int:
        """Write-Audit-Publish, step 2: flip the staged wave visible in ONE
        snapshot.  The manifest is re-read fresh at publish time, so audits
        can run for hours while other writers commit (optimistic
        concurrency applies as usual).  Returns the new snapshot id."""
        name = token["table"]
        manifest = self.read_manifest(name)
        manifest["schema"] = token["schema"]
        for pv, vdir in sorted(token["entries"].items()):
            entry = {
                "committed_at": time.time(),
                "dir": vdir,
                "counters": (counters_by_partition or {}).get(pv, {}),
                "lineage": {"op": "publish_staged", "reason": reason},
            }
            manifest["partitions"][pv] = entry
            manifest["lineage"].append({"partition": pv, **entry})
        return self._commit_manifest(name, manifest)

    def delete_where(
        self,
        spark: SparkSession,
        name: str,
        predicate: Any,
        reason: str = "",
        partitions: list[str] | None = None,
    ) -> dict[str, int]:
        """Row-level COPY-ON-WRITE delete — Iceberg ``DELETE FROM <name>
        WHERE <predicate>`` semantics in ONE atomic snapshot.  Takedown /
        right-to-be-forgotten requests over a web corpus remove ROWS (a
        url), not partitions (a day), so partition drops can't express
        them; this is the missing granularity.

        Two wave jobs, both manifest-pruned:

        1. a count job finds the AFFECTED partitions (≥1 matching row) —
           untouched partitions keep their immutable ``v=`` dirs
           byte-for-byte, so time travel and :meth:`snapshot_diff` readers
           see no spurious change and the write amplification is bounded
           by the rows actually hit;
        2. one rewrite wave stages the SURVIVORS (rows where the predicate
           is not TRUE — SQL ``DELETE`` leaves NULL-predicate rows in
           place) for exactly the affected partitions.

        The commit is a single snapshot: rewritten partitions point at new
        ``v=`` dirs, fully-emptied partitions leave the manifest, and each
        lineage event records ``rows_deleted`` — the audit trail a takedown
        pipeline must produce.  A crash before the pointer flip leaves the
        previous snapshot authoritative (old dirs are immutable); re-running
        is idempotent (the second pass matches zero rows).

        ``predicate`` is a SQL string or a Column; it sees the data columns
        plus the partition value as string column ``p``.  ``partitions``
        restricts even the COUNT job to a candidate list (metadata pruning:
        a caller who knows the predicate's partition range — e.g. a
        day-aligned time bound — never scans outside it).
        """
        from pyspark.sql import Column
        from pyspark.sql import functions as F

        pvs = sorted(self.committed_partitions(name))
        if partitions is not None:
            want = set(partitions)
            pvs = [pv for pv in pvs if pv in want]
        out = {"partitions_rewritten": 0, "partitions_dropped": 0, "rows_deleted": 0}
        if not pvs:
            return out
        expr = predicate if isinstance(predicate, Column) else F.expr(predicate)
        pred = F.coalesce(expr, F.lit(False))
        tagged = self.read_partitions_with_key(spark, name, pvs)
        hits = {
            r["p"]: (int(r["matched"]), int(r["total"]))
            for r in tagged.groupBy("p")
            .agg(
                F.sum(pred.cast("long")).alias("matched"),
                F.count(F.lit(1)).alias("total"),
            )
            .collect()
            if r["matched"]
        }
        if not hits:
            return out
        rewritten = sorted(pv for pv, (m, t) in hits.items() if m < t)
        vdirs: dict[str, str] = {}
        if rewritten:
            survivors = self.read_partitions_with_key(
                spark, name, rewritten
            ).filter(~pred)
            vdirs, _ = self._stage(survivors, name, rewritten, "p")
        manifest = self.read_manifest(name)
        for pv in sorted(hits):
            matched, total = hits[pv]
            out["rows_deleted"] += matched
            if matched == total:
                manifest["partitions"].pop(pv, None)
                manifest["lineage"].append(
                    {
                        "partition": pv,
                        "dropped_at": time.time(),
                        "reason": reason or f"delete_where: all {total} rows matched",
                        "rows_deleted": matched,
                    }
                )
                out["partitions_dropped"] += 1
                continue
            entry = {
                "committed_at": time.time(),
                "dir": vdirs[pv],
                "counters": {"rows_deleted": matched, "rows_kept": total - matched},
                "lineage": {"op": "delete_where", "predicate": str(predicate),
                            "reason": reason},
            }
            manifest["partitions"][pv] = entry
            manifest["lineage"].append(
                {"partition": pv, "rows_deleted": matched, **entry}
            )
            out["partitions_rewritten"] += 1
        self._commit_manifest(name, manifest)
        return out

    def update_where(
        self,
        spark: SparkSession,
        name: str,
        predicate: str,
        set_exprs: dict[str, str],
        reason: str = "",
    ) -> dict[str, int]:
        """Row-level COPY-ON-WRITE update — Iceberg ``UPDATE <name> SET …
        WHERE <predicate>`` in ONE atomic snapshot; completes the DML trio
        beside :meth:`delete_where` and :meth:`merge_into` (use it when
        the new values are EXPRESSIONS over the existing row — redaction,
        re-scoring, unit fixes — rather than a source table of
        replacements).

        Same shape as delete_where: a count job finds the affected
        partitions, one wave rewrites them with each matching row's
        ``set_exprs`` applied (non-matching rows and NULL-predicate rows
        pass through byte-equal); untouched partitions keep their
        immutable dirs; lineage records ``rows_updated`` per partition.
        ``set_exprs`` maps existing column name → SQL expression evaluated
        on the OLD row (all assignments see pre-update values, the SQL
        UPDATE contract).  Assigning a NEW column is an error — schema
        evolution happens through :meth:`merge_into`, not as a side effect.
        """
        from pyspark.sql import functions as F

        pvs = sorted(self.committed_partitions(name))
        out = {"partitions_rewritten": 0, "rows_updated": 0}
        if not pvs:
            return out
        pred = F.coalesce(F.expr(predicate), F.lit(False))
        tagged = self.read_partitions_with_key(spark, name, pvs)
        bad = [c for c in set_exprs if c not in tagged.columns]
        if bad:
            raise ValueError(
                f"update_where: SET targets {bad} are not columns of {name}; "
                f"add columns through merge_into, not UPDATE"
            )
        hits = {
            r["p"]: int(r["matched"])
            for r in tagged.groupBy("p")
            .agg(F.sum(pred.cast("long")).alias("matched"))
            .collect()
            if r["matched"]
        }
        if not hits:
            return out
        affected = sorted(hits)
        updated = self.read_partitions_with_key(spark, name, affected)
        # all assignments see the OLD row: build every new value first,
        # then swap — the SQL UPDATE simultaneous-assignment contract
        for c, e in set_exprs.items():
            updated = updated.withColumn(
                f"__new_{c}", F.when(pred, F.expr(e)).otherwise(F.col(c))
            )
        for c in set_exprs:
            updated = updated.withColumn(c, F.col(f"__new_{c}")).drop(f"__new_{c}")
        vdirs, _ = self._stage(updated, name, affected, "p")
        manifest = self.read_manifest(name)
        for pv in affected:
            entry = {
                "committed_at": time.time(),
                "dir": vdirs[pv],
                "counters": {"rows_updated": hits[pv]},
                "lineage": {"op": "update_where", "predicate": predicate,
                            "reason": reason},
            }
            manifest["partitions"][pv] = entry
            manifest["lineage"].append(
                {"partition": pv, "rows_updated": hits[pv], **entry}
            )
            out["partitions_rewritten"] += 1
            out["rows_updated"] += hits[pv]
        self._commit_manifest(name, manifest)
        return out

    def merge_into(
        self,
        spark: SparkSession,
        name: str,
        source: DataFrame,
        key_cols: list[str],
        day_col: str = "day",
        reason: str = "",
    ) -> dict[str, int]:
        """Partition-scoped UPSERT — Iceberg ``MERGE INTO`` (matched →
        replace the row, unmatched → insert) in ONE atomic snapshot: the
        re-crawl last mile, where updated pages replace their previous row
        by key and new pages append, without rewriting the table.

        ``source`` carries the data columns plus ``day_col`` (each row's
        partition value).  Rows match on ``key_cols`` WITHIN their
        partition — the rewrite wave is therefore bounded by the
        partitions the source actually touches, which is what keeps MERGE
        affordable at 10^12 rows (a cross-partition key move is a
        :meth:`delete_where` + merge, stated rather than hidden).  Like
        Iceberg, a source with duplicate keys in one partition is an ERROR
        (each target row must have at most one update), checked up front.

        One anti-join + one wave write; untouched partitions keep their
        immutable ``v=`` dirs byte-for-byte; the commit is a single
        snapshot whose lineage records the merge op per partition.
        Returns {rows_updated, rows_inserted, partitions_written}.
        """
        from pyspark.sql import functions as F

        keys = list(key_cols)
        grouped = source.groupBy(day_col, *keys).count()
        # ONE job answers the three up-front questions (touched days,
        # source size, duplicate keys) that previously cost a distinct-
        # collect, a dupes count, and a full source count each
        summary = grouped.agg(
            F.collect_set(day_col).alias("days"),
            F.sum("count").alias("n_src"),
            F.max("count").alias("max_dupe"),
        ).first()
        days = sorted(summary["days"] or [])
        if not days:
            return {"rows_updated": 0, "rows_inserted": 0, "partitions_written": 0}
        if summary["max_dupe"] > 1:
            ex = grouped.filter(F.col("count") > 1).first()  # error path only
            raise ValueError(
                f"merge_into: source has duplicate keys within a partition "
                f"(e.g. {dict((k, ex[k]) for k in [day_col, *keys])} ×{ex['count']}); "
                f"each target row must match at most one source row"
            )
        committed = self.committed_partitions(name)  # one manifest read
        present = [d for d in days if d in committed]
        n_src = int(summary["n_src"])
        n_exist = n_surv = 0
        merged = source
        survivors = None
        try:
            if present:
                existing = self.read_partitions_with_key(
                    spark, name, present
                ).withColumnRenamed("p", day_col)
                survivors = existing.join(
                    source.select(day_col, *keys), on=[day_col, *keys],
                    how="left_anti",
                ).persist()  # counted here, re-read by the wave write
                n_exist = existing.count()
                n_surv = survivors.count()
                # allowMissingColumns = schema evolution through MERGE: a
                # source with a NEW column upserts it (survivors read it as
                # NULL), and the wave commit records the widened schema
                merged = survivors.unionByName(source, allowMissingColumns=True)
            updated = n_exist - n_surv
            self.write_partitions(
                merged, name, days, day_col=day_col,
                lineage_by_partition={
                    d: {"op": "merge_into", "reason": reason} for d in days
                },
            )
        finally:
            if survivors is not None:
                survivors.unpersist()
        return {
            "rows_updated": updated,
            "rows_inserted": n_src - updated,
            "partitions_written": len(days),
        }

    # ------------------------------------------------------------------
    # retention / expiry / gc
    # ------------------------------------------------------------------

    def snapshot_diff(
        self, name: str, from_snapshot: int, to_snapshot: int | None = None
    ) -> dict[str, Any]:
        """What changed between two snapshots — Iceberg's changelog view
        over this catalog's manifests, metadata-only (no data files read).

        Partitions are compared by their immutable ``v=`` data dir: a
        partition is ``added`` (in to, not from), ``removed``, ``changed``
        (different dir — a refresh/compaction re-commit), or unchanged
        (not reported).  ``rows_delta`` sums the ``rows_in`` counters of
        added/changed partitions minus removed/replaced ones, when the
        writer recorded them (the pipeline does) — None when either side
        lacks counters.  Both snapshots must still be retained
        (``expire_snapshots`` erases history; that is its contract).
        """
        to_v = self.current_snapshot(name) if to_snapshot is None else to_snapshot
        a = self.read_manifest(name, as_of=from_snapshot)["partitions"]
        b = self.read_manifest(name, as_of=to_v)["partitions"]
        added = sorted(set(b) - set(a))
        removed = sorted(set(a) - set(b))
        changed = sorted(
            pv for pv in set(a) & set(b) if a[pv].get("dir") != b[pv].get("dir")
        )

        def _rows(side: dict, pvs: list[str]) -> int | None:
            vals = [side[pv].get("counters", {}).get("rows_in") for pv in pvs]
            return None if any(v is None for v in vals) else sum(vals)

        gained = _rows(b, added + changed)
        lost = _rows(a, removed + changed)
        return {
            "table": name,
            "from_snapshot": from_snapshot,
            "to_snapshot": to_v,
            "added": added,
            "removed": removed,
            "changed": changed,
            "rows_delta": (
                None if gained is None or lost is None else gained - lost
            ),
        }

    def read_increment(
        self,
        spark: SparkSession,
        name: str,
        from_snapshot: int,
        to_snapshot: int | None = None,
    ) -> DataFrame:
        """Rows of the partitions ADDED or CHANGED between two snapshots —
        Iceberg's incremental read, the "what landed since my last export?"
        primitive an incremental training-data consumer polls instead of
        rescanning 10^12 rows.  Metadata decides the partition list
        (:meth:`snapshot_diff`, no data files touched); only those
        partitions are then scanned, AT the target snapshot (a concurrent
        writer can't leak newer data into the increment).

        Granularity is the commit unit — the partition: a changed
        partition returns its full current contents (consumers dedup by
        key; true row-level CDC would diff old vs new files, an
        O(partition) job either way).  Removed partitions are reported by
        snapshot_diff, not readable here.  Returns the data columns plus
        the partition value as ``p``; empty increment → empty frame with
        the snapshot's recorded schema."""
        d = self.snapshot_diff(name, from_snapshot, to_snapshot)
        pvs = sorted(d["added"] + d["changed"])
        if not pvs:
            from pyspark.sql.types import StructType

            mf = self.read_manifest(name, as_of=d["to_snapshot"])
            schema = mf.get("schema")
            if schema is None:
                raise ValueError(
                    f"table {name} increment is empty and the snapshot "
                    f"records no schema to shape an empty frame"
                )
            st = StructType.fromJson(schema).add("p", "string")
            return spark.createDataFrame([], st)
        return self.read_partitions_with_key(
            spark, name, pvs, as_of=d["to_snapshot"]
        )

    def drop_partition(self, name: str, partition_value: str, reason: str = "") -> bool:
        """Metadata-only partition drop: a new snapshot without the partition
        (the analogue of Iceberg ``DROP PARTITION``).  Bytes remain until
        :meth:`expire_snapshots` retires every snapshot referencing them —
        so time travel across a retention drop still works."""
        manifest = self.read_manifest(name)
        if partition_value not in manifest["partitions"]:
            return False
        del manifest["partitions"][partition_value]
        manifest["lineage"].append(
            {"partition": partition_value, "dropped_at": time.time(), "reason": reason}
        )
        self._commit_manifest(name, manifest)
        return True

    def drop_partitions(self, name: str, partition_values: list[str],
                        reason: str = "") -> int:
        """Metadata-only drop of MANY partitions in ONE snapshot (the bulk
        form of :meth:`drop_partition` — DROP MEASUREMENT / retention
        sweeps must not pay one commit per day).  Returns the drop count;
        bytes are reclaimed later by :meth:`expire_snapshots`."""
        dropped = 0

        def _apply(manifest: dict[str, Any]) -> None:
            nonlocal dropped
            dropped = 0  # re-runnable: recount against the rebased manifest
            for pv in partition_values:
                if pv not in manifest["partitions"]:
                    continue
                del manifest["partitions"][pv]
                manifest["lineage"].append(
                    {"partition": pv, "dropped_at": time.time(),
                     "reason": reason}
                )
                dropped += 1

        # probe cheaply first: a drop with no matches must not commit
        if not any(
            pv in self.committed_partitions(name) for pv in partition_values
        ):
            return 0
        self._commit_apply(name, _apply)
        return dropped

    def dropped_partitions(self, name: str) -> dict[str, str]:
        """Partitions whose LATEST lineage event is a drop: {value: reason}.
        A partition re-committed after a drop is live again and excluded.
        Lets maintenance jobs distinguish 'never committed' from
        'deliberately expired' (refresh must not resurrect the latter)."""
        mf = self.read_manifest(name)
        out: dict[str, str] = {}
        for e in mf["lineage"]:
            pv = e.get("partition")
            if pv is None:
                continue
            if "dropped_at" in e:
                out[pv] = e.get("reason", "")
            else:
                out.pop(pv, None)  # re-committed after the drop
        for pv in mf["partitions"]:
            out.pop(pv, None)
        return out

    def expire_snapshots(self, name: str, keep_last: int = 1) -> dict[str, int]:
        """Iceberg ``expire_snapshots``: retain the last ``keep_last``
        snapshots, delete older manifest files, and delete exactly the data
        dirs no retained snapshot references.  Also sweeps crashed-run
        staging and orphaned (never-committed) data versions.

        TAGGED snapshots (:meth:`create_tag`) are always retained — their
        manifests and every data dir they reference survive any
        ``keep_last`` until the tag is dropped, matching Iceberg's ref-
        aware expiry.  That is the tags' whole point: a pinned dataset
        release must survive routine maintenance."""
        kept = set(self.snapshots(name)[-max(1, keep_last):])
        # branch manifests share the version sequence, so "newest N" is no
        # longer guaranteed to contain main's head — pin it unconditionally
        cur = self.current_snapshot(name)
        if cur is not None:
            kept.add(cur)
        refs = self._read_refs(name)
        all_snaps = set(self.snapshots(name))
        kept |= {
            s
            for s in (*refs["tags"].values(), *refs["branches"].values())
            if s in all_snaps
        }
        # A branch head is only publishable (fast_forward) while its parent
        # chain down to main's current snapshot is walkable — _ancestors
        # stops at the first missing manifest.  Retain each branch's chain
        # back to the first already-kept snapshot (Iceberg ref-aware expiry
        # keeps every snapshot reachable from a ref, for the same reason).
        for head in refs["branches"].values():
            node: int | None = head if head in all_snaps else None
            seen: set[int] = set()
            while node is not None and node not in seen:
                seen.add(node)
                mf = self._manifest_file(name, node)
                if not os.path.exists(mf):
                    break
                with open(mf) as f:
                    node = json.load(f).get("parent_id")
                if node is None or node in kept:
                    break
                kept.add(node)
        kept = sorted(kept)
        referenced: set[str] = set()
        for v in kept:
            for pv, e in self.read_manifest(name, v)["partitions"].items():
                referenced.add(os.path.join(f"p={pv}", e.get("dir", "")).rstrip("/"))
        tdir = self.table_path(name)
        dropped_manifests = dropped_dirs = 0
        for fn in list(os.listdir(tdir)):
            m = _MANIFEST_RE.match(fn)
            if m and int(m.group(1)) not in kept:
                os.remove(os.path.join(tdir, fn))
                dropped_manifests += 1
                continue
            full = os.path.join(tdir, fn)
            if fn.startswith((".wave-", ".delete-", ".update-")) and os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
                dropped_dirs += 1
            elif fn.startswith("p=") and os.path.isdir(full):
                for sub in list(os.listdir(full)):
                    rel = os.path.join(fn, sub)
                    if sub.startswith("v=") and rel not in referenced:
                        shutil.rmtree(os.path.join(full, sub), ignore_errors=True)
                        dropped_dirs += 1
                if not os.listdir(full):
                    os.rmdir(full)
        return {"manifests": dropped_manifests, "data_dirs": dropped_dirs}

    def compact_partition(
        self,
        spark: SparkSession,
        name: str,
        partition_value: str,
        target_file_mb: int = 128,
        sort_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        zorder_cols: list[str] | None = None,
        zorder_bits: int = 8,
    ) -> dict[str, Any]:
        """Bin-pack one partition's small files into ~``target_file_mb``
        outputs (Iceberg's ``rewrite_data_files`` binpack strategy).

        Streaming commits (streaming/incremental.py) and
        :meth:`write_partition` of a many-task frame leave many small
        parquet files; at scale, scan task count — and the NameNode/S3
        listing cost — tracks file count, so compaction is what keeps the
        1000-executor read path at ``maxPartitionBytes``-sized splits.  The
        wave writes (:meth:`write_partitions` and the rewrites) already land
        one file per partition, so binpack leaves their partitions as they
        are.  The rewrite lands in a NEW immutable ``v=`` dir + snapshot
        commit (data identical, counters/lineage preserved, a ``compaction``
        note added) — readers never see a half-compacted partition, and time
        travel to the pre-compaction snapshot still works until
        :meth:`expire_snapshots` reclaims it.

        ``sort_cols`` switches to Iceberg's SORT strategy: rows range-
        partition across the output files and sort within each, so parquet
        row-group min/max stats become selective on those columns — a
        per-series read (``WHERE metric = …``) then skips most row groups
        instead of scanning the day.  Costs one shuffle (binpack's coalesce
        is narrow), which is the standard trade: pay it once at maintenance
        time, save it on every subsequent selective scan.  A sort rewrite
        runs even when the file count is already at target — layout, not
        file count, is what it fixes.

        ``bloom_cols`` writes a parquet BLOOM FILTER per listed column
        (``parquet.bloom.filter.enabled#col``): the point-lookup
        complement to sort clustering — min/max stats prune RANGES, the
        bloom bitset prunes row groups for ``WHERE url = '…'`` equality
        probes on high-cardinality columns where every group's min/max
        straddles the probe.  Costs bytes at maintenance time
        (parquet-mr also disables dictionary encoding on bloomed
        columns), saves I/O on every later point query — the same trade
        as the sort rewrite.

        ``zorder_cols`` switches to Iceberg's ZORDER strategy: rows cluster
        by the Morton interleave of per-column rank buckets (see
        :func:`zorder_key`), so min/max stats become selective on EVERY
        listed column at once — the multi-dimensional complement to SORT's
        single-prefix clustering.
        """
        if sort_cols and zorder_cols:
            raise ValueError("sort_cols and zorder_cols are exclusive strategies")
        parts = self.committed_partitions(name)
        if partition_value not in parts:
            raise ValueError(
                f"table {name} has no committed partition {partition_value}"
            )
        entry = parts[partition_value]
        src = self._partition_dir(name, partition_value, entry)
        data_files = [
            fn for fn in os.listdir(src)
            if fn.endswith(".parquet") and not fn.startswith(("_", "."))
        ]
        n_bytes = sum(os.path.getsize(os.path.join(src, fn)) for fn in data_files)
        n_target = max(1, -(-n_bytes // (target_file_mb << 20)))  # ceil
        if (len(data_files) <= n_target and not sort_cols and not bloom_cols
                and not zorder_cols):
            return {"compacted": False, "files": len(data_files), "bytes": n_bytes}
        df = spark.read.parquet(src)
        vdir = f"v={uuid.uuid4().hex[:8]}"
        dest = os.path.join(self.table_path(name), f"p={partition_value}", vdir)
        if zorder_cols:
            zk = zorder_key(df, list(zorder_cols), zorder_bits)
            out = (
                df.withColumn("_zkey", zk)
                .repartitionByRange(n_target, "_zkey")
                .sortWithinPartitions("_zkey")
                .drop("_zkey")
            )
        elif sort_cols:
            cols = list(sort_cols)
            out = df.repartitionByRange(n_target, *cols).sortWithinPartitions(
                *cols
            )
        else:
            # coalesce, not repartition: a narrow merge of input splits — no
            # shuffle; parquet re-encode is the only cost
            out = df.coalesce(n_target)
        writer = out.write.mode("overwrite")
        for bc in bloom_cols or []:
            writer = writer.option(f"parquet.bloom.filter.enabled#{bc}", "true")
        writer.parquet(dest)
        manifest = self.read_manifest(name)
        new_entry = dict(manifest["partitions"][partition_value])
        new_entry["dir"] = vdir
        new_entry["committed_at"] = time.time()
        new_entry["compaction"] = {
            "from_dir": entry.get("dir"),
            "files_before": len(data_files),
            "files_after": n_target,
            "bytes": n_bytes,
            "strategy": (
                "zorder" if zorder_cols else "sort" if sort_cols else "binpack"
            ),
            **({"sort_cols": list(sort_cols)} if sort_cols else {}),
            **({"bloom_cols": list(bloom_cols)} if bloom_cols else {}),
            **(
                {"zorder_cols": list(zorder_cols), "zorder_bits": zorder_bits}
                if zorder_cols
                else {}
            ),
        }
        manifest["partitions"][partition_value] = new_entry
        manifest["lineage"].append({"partition": partition_value, **new_entry})
        self._commit_manifest(name, manifest)
        return {
            "compacted": True,
            "files_before": len(data_files),
            "files_after": n_target,
            "bytes": n_bytes,
        }

    def compact(
        self,
        spark: SparkSession,
        name: str,
        target_file_mb: int = 128,
        sort_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        zorder_cols: list[str] | None = None,
        zorder_bits: int = 8,
    ) -> dict[str, Any]:
        """Compact every committed partition (driver loop over partition
        METADATA — bounded by partition count, never data; each rewrite is
        its own Spark job, so a scheduler can run them as a wave).
        ``sort_cols`` / ``zorder_cols`` pick the SORT / ZORDER strategy per
        partition (see :meth:`compact_partition`)."""
        out: dict[str, Any] = {"partitions": 0, "rewritten": 0}
        for pv in sorted(self.committed_partitions(name)):
            res = self.compact_partition(
                spark, name, pv, target_file_mb, sort_cols=sort_cols,
                bloom_cols=bloom_cols, zorder_cols=zorder_cols,
                zorder_bits=zorder_bits,
            )
            out["partitions"] += 1
            out["rewritten"] += int(res.get("compacted", False))
        return out

    def vacuum(self, name: str) -> int:
        """Reclaim everything not reachable from the CURRENT snapshot
        (expire to 1 retained snapshot).  Returns count of removed items."""
        if not os.path.isdir(self.table_path(name)):
            return 0
        res = self.expire_snapshots(name, keep_last=1)
        return res["manifests"] + res["data_dirs"]
