"""Snapshot-committed tables on plain Parquet — the Iceberg CONTRACT
(snapshot-atomic commits, optimistic concurrency, time travel, metadata
file lists) without the Iceberg runtime jar this sandbox lacks.

The north rule targets Iceberg tables; ``TableIO`` swaps in a real
catalog when the jar exists. This module supplies the same guarantees
on the Parquet branch, the way Iceberg itself does at its core
(Iceberg spec, public: a table IS a pointer to an immutable metadata
file; a commit is an atomic swap of that pointer):

* **Layout**: ``<root>/data/part=K/<commit>-*.parquet`` (immutable,
  uniquely-named data files in one shared hive layout) +
  ``<root>/meta/m_<uuid>.json`` (immutable MANIFESTS: one [path, bytes]
  file list per commit) + ``<root>/meta/v<N>.json`` (snapshot N:
  parent, operation, schema, and the list of manifest names it
  comprises). The manifest indirection is Iceberg's own fix for
  append-cost blow-up: a snapshot commit writes ONE new manifest and a
  snapshot record of O(commits) manifest names — never a rewrite of the
  cumulative file list, so metadata work per commit stays constant as
  the table grows. There is no mutable pointer file: the current
  snapshot is the highest committed ``v<N>.json``.
* **Commit protocol**: write data files, write the snapshot to a temp
  name, then atomically ``rename(tmp, v<N>.json)``. Hadoop's rename
  fails (returns false) when the destination exists — exactly the
  compare-and-swap Iceberg builds on. A loser re-reads the new current
  snapshot (so a concurrent append's rows are retained), recomputes its
  file list, and retries at N+1. Its already-written data files stay
  valid across retries — no rewrite.
* **Crash safety**: data files without a committed snapshot are
  invisible to every reader; ``vacuum()`` removes them later. A crash
  between data write and rename leaves the table byte-identical to the
  previous snapshot.
* **Time travel**: ``read(version=k)`` materializes exactly snapshot
  k's file list. ``rollback(k)`` commits a new snapshot whose file list
  is k's (history is never rewritten — same as Iceberg).
* **Reads** list files from metadata, never from directory scans, so a
  read is O(1) FS round-trips + the parquet footers it actually needs
  (Iceberg's "no directory listing" property). ``basePath`` is pinned
  so hive-style partition columns in the file paths survive explicit
  file-list reads.
* **Lineage**: ``input_fingerprints(part_col)`` derives the manifest's
  per-partition fingerprints from the snapshot's OWN file list (path +
  size, the same recipe as manifest.input_fingerprints) — zero
  filesystem scans, and the snapshot version doubles as the table-level
  input id the north rule asks for.

Reference sink semantics being generalized: the release manifest's
atomic per-batch commits (/root/reference/run_package_release.py:283-317)
and DROP+CREATE replace (/root/reference/dataval/dataval.py:152-177).
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

__all__ = ["SnapshotTable", "CommitConflict", "IncrementalReadError"]

_MAX_COMMIT_RETRIES = 20

# Iceberg's write.metadata.metrics truncate(16) default: string bounds
# kept in the manifest are prefixes, not full values, so a pathological
# 1 MB string key cannot bloat table metadata.
_STATS_TRUNC = 16


def _simple_type(name: str):
    """DataType for a scalar simpleString — session-free (the pyspark
    DDL parser needs an active SparkContext, which DDL guards shouldn't
    depend on)."""
    from pyspark.sql import types as T

    by_name = {
        "string": T.StringType(),
        "boolean": T.BooleanType(),
        "tinyint": T.ByteType(),
        "smallint": T.ShortType(),
        "int": T.IntegerType(),
        "bigint": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "date": T.DateType(),
        "timestamp": T.TimestampType(),
    }
    return by_name[name]


def _trunc_lower(s: str, width: int = _STATS_TRUNC) -> str:
    """Sound lower bound for a string min: a prefix always compares
    <= the full value (code-point order == UTF-8 byte order)."""
    return s[:width]


def _trunc_upper(s: str, width: int = _STATS_TRUNC) -> str | None:
    """Sound upper bound for a string max: truncate to ``width`` and
    increment the last incrementable code point (skipping the surrogate
    gap), so every string with the original prefix compares strictly
    below the result. Returns None (no upper bound, never prune on it)
    when every prefix code point is already U+10FFFF — lying is worse
    than not pruning."""
    if len(s) <= width:
        return s
    p = s[:width]
    for i in range(width - 1, -1, -1):
        cp = ord(p[i]) + 1
        if 0xD800 <= cp <= 0xDFFF:
            cp = 0xE000  # never emit a lone surrogate
        if cp <= 0x10FFFF:
            return p[:i] + chr(cp)
    return None


class CommitConflict(RuntimeError):
    """Raised when a commit loses the rename race more than
    _MAX_COMMIT_RETRIES times (pathological contention)."""


class IncrementalReadError(RuntimeError):
    """Raised when a snapshot range cannot be expressed as an
    append-only changelog (a delete/merge/overwrite/rollback landed in
    it, or its history was expired) — the Iceberg incremental-read
    contract: fall back to a full read of the target snapshot."""


class SnapshotTable:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        bloom_columns: dict[str, int] | list[str] | None = None,
    ):
        """``bloom_columns`` declares parquet BLOOM FILTERS for
        high-cardinality point-lookup keys ({col: expected_ndv}, or a
        list for the 1M-ndv default): written via the standard
        parquet-mr options, consumed automatically by Spark's scan for
        equality predicates (row-group skip without a sort — min/max
        bounds are useless on a key like conv_id scattered across every
        file). Recorded in each snapshot and inherited by later writers
        constructed without the parameter, so compaction keeps the
        blooms. Perf-only metadata: a writer that drops it loses
        skipping, never correctness."""
        self.spark = spark
        self.root = root.rstrip("/")
        if isinstance(bloom_columns, (list, tuple)):
            bloom_columns = {c: 1_000_000 for c in bloom_columns}
        self._bloom_columns = bloom_columns
        jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(self.root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def _resolved_blooms(self) -> dict[str, int]:
        """The bloom-filter spec in force: the constructor's, else the
        current snapshot's recorded one, else none."""
        if self._bloom_columns is not None:
            return dict(self._bloom_columns)
        if self.exists():
            return dict(self.snapshot().get("bloom_columns") or {})
        return {}

    # -- paths ----------------------------------------------------------
    def _meta_dir(self) -> str:
        return f"{self.root}/meta"

    def _data_dir(self) -> str:
        return f"{self.root}/data"

    def _vpath(self, version: int) -> str:
        return f"{self._meta_dir()}/v{version}.json"

    # -- filesystem primitives -----------------------------------------
    def _write_text(self, path: str, text: str) -> None:
        out = self._fs.create(self._Path(path), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def _publish(self, path: str, text: str) -> bool:
        """Create ``path`` holding ``text`` unless a file is there; True
        iff this call created it. Written to a ``_tmp_`` file, then
        published by link(2) on ``file:`` (atomic EEXIST: Hadoop's local
        rename checks, then renames, so two racers can both win) and by
        the FileSystem's fail-if-exists rename elsewhere."""
        self._fs.mkdirs(self._Path(self._meta_dir()))
        tmp = self._Path(f"{self._meta_dir()}/_tmp_{uuid.uuid4().hex}.json")
        self._write_text(tmp.toString(), text)
        dest = self._Path(path)
        if self._fs.getUri().getScheme() != "file":
            ok = bool(self._fs.rename(tmp, dest))
        else:
            local = [self._fs.makeQualified(p).toUri().getPath() for p in (tmp, dest)]
            try:
                os.link(*local)
                ok = True
            except FileExistsError:
                ok = False
        self._fs.delete(tmp, False)  # via the FileSystem: its .crc goes too
        return ok

    def _read_text(self, path: str) -> str:
        ins = self._fs.open(self._Path(path))
        try:
            # IOUtils reads the stream fully without guessing lengths
            jvm = self.spark._jvm
            ba = jvm.org.apache.commons.io.IOUtils.toByteArray(ins)
            return bytes(ba).decode("utf-8")
        finally:
            ins.close()

    # -- snapshot state ---------------------------------------------------
    def current_version(self) -> int | None:
        """Highest committed snapshot, None for an empty/absent table."""
        meta = self._Path(self._meta_dir())
        if not self._fs.exists(meta):
            return None
        best = None
        for st in self._fs.listStatus(meta):
            name = st.getPath().getName()
            if name.startswith("v") and name.endswith(".json"):
                try:
                    n = int(name[1:-5])
                except ValueError:
                    continue
                best = n if best is None or n > best else best
        return best

    def snapshot(self, version: int | str | None = None) -> dict:
        """Snapshot by number, by TAG name (a str), or current (None)."""
        if isinstance(version, str):
            version = self.tag_version(version)
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed snapshot under {self.root}")
        p = self._vpath(v)
        if not self._fs.exists(self._Path(p)):
            raise FileNotFoundError(f"snapshot v{v} does not exist under {self.root}")
        return json.loads(self._read_text(p))

    def version_as_of(self, ts: float) -> int:
        """The version current AT epoch time ``ts`` — the highest
        retained record with ``committed_at <= ts`` (Iceberg's
        TIMESTAMP AS OF resolution). Unstamped records (pre-timestamp
        tables) are skipped: their commit time is unknown, and guessing
        would silently time-travel to the wrong data. Raises when no
        retained record is old enough."""
        cur = self.current_version()
        best = None
        for k in range((cur + 1) if cur is not None else 0):
            p = self._vpath(k)
            if not self._fs.exists(self._Path(p)):
                continue
            stamp = json.loads(self._read_text(p)).get("committed_at")
            if stamp is not None and stamp <= ts:
                best = k
        if best is None:
            raise FileNotFoundError(
                f"no retained snapshot of {self.root} committed at or "
                f"before {ts} (expired history or a pre-timestamp table)"
            )
        return best

    def read_as_of(self, ts: float) -> DataFrame:
        """Time travel by TIMESTAMP: the table as it stood at epoch
        ``ts`` (``read(version_as_of(ts))``)."""
        return self.read(self.version_as_of(ts))

    def _write_manifest(
        self,
        files: list[list],
        stats: dict | None = None,
        rows: dict | None = None,
    ) -> str:
        """Persist one commit's file list (plus optional per-file column
        stats and row counts) as an immutable manifest; returns its name
        (relative to meta/)."""
        name = f"m_{uuid.uuid4().hex}.json"
        self._fs.mkdirs(self._Path(self._meta_dir()))
        doc: dict = {"files": files}
        if stats:
            doc["stats"] = stats
        if rows:
            doc["rows"] = rows
        self._write_text(f"{self._meta_dir()}/{name}", json.dumps(doc))
        return name

    def _collect_stats(self, files: list[list]) -> tuple[dict, dict]:
        """Per-file ({column: [min, max]}, row count) from the parquet
        footers — returned as the pair (stats, rows). Row counts power
        the metadata-only ``row_count()``; column bounds power ``scan``
        pruning.

        Per-file {column: [min, max]} from the parquet footers that
        were just written — Iceberg's manifest column-stats layer, the
        basis for planning-time file pruning (``scan``). Footer reads
        are metadata-only (no row decoding). Numeric/boolean min/max
        round-trip JSON exactly; STRING bounds are stored with
        Iceberg's truncate contract (``_trunc_lower``/``_trunc_upper``:
        a prefix is always <= the true min, a truncated-and-incremented
        prefix always >= the true max, and an un-incrementable max
        drops the upper bound rather than lie) so ``scan`` can prune on
        string keys like conv_id. Collected only for local paths (the
        sandbox case); anything unreadable degrades to 'no stats' =
        never pruned."""
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover - pyarrow is baked in
            return {}, {}
        out: dict = {}
        rows: dict = {}
        for rel, _ in files:
            local = self._Path(f"{self.root}/{rel}").toUri().getPath()
            try:
                md = pq.ParquetFile(local).metadata
            except Exception:
                continue
            rows[rel] = md.num_rows
            bounds: dict = {}
            dropped: set[str] = set()
            null_only: dict = {}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    col = c.path_in_schema
                    if "." in col:
                        continue  # nested leaves: no top-level pruning
                    st = c.statistics
                    null_only[col] = null_only.get(col, True) and (
                        st is not None
                        and st.null_count is not None
                        and st.null_count == g.num_rows
                    )
                    if col in dropped:
                        continue
                    if (
                        st is None
                        or not st.has_min_max
                        or not isinstance(st.min, (int, float, str))
                        or type(st.min) is not type(st.max)  # noqa: E721
                    ):
                        # a single stats-less / unsupported-type row
                        # group makes the column's file bound unusable
                        # (numeric, boolean and string survive; bytes /
                        # temporal don't round-trip JSON and are dropped)
                        bounds.pop(col, None)
                        dropped.add(col)
                        continue
                    if col in bounds:
                        bounds[col] = [
                            min(bounds[col][0], st.min),
                            max(bounds[col][1], st.max),
                        ]
                    else:
                        bounds[col] = [st.min, st.max]
            for col, bnd in bounds.items():
                if isinstance(bnd[0], str):
                    # Iceberg truncate contract: prefix lower bound,
                    # truncate-and-increment upper bound (None = no
                    # upper bound when un-incrementable)
                    bounds[col] = [_trunc_lower(bnd[0]), _trunc_upper(bnd[1])]
            for col, flag in null_only.items():
                if flag and col not in bounds:
                    # every row group all-NULL: record the sentinel
                    # [None, None] bound, which interval pruning reads
                    # as "provably no match" (NULLs never satisfy an
                    # interval predicate)
                    bounds[col] = [None, None]
            if bounds:
                out[rel] = bounds
        return out, rows

    def file_stats(self, snap: dict) -> dict:
        """A snapshot's merged per-file column bounds,
        {relative_path: {column: [min, max]}}; files written before
        stats existed (or with no eligible columns) are simply absent."""
        out: dict = {}
        for name in snap["manifests"]:
            doc = json.loads(self._read_text(f"{self._meta_dir()}/{name}"))
            out.update(doc.get("stats", {}))
        return out

    def file_rows(self, snap: dict) -> dict:
        """A snapshot's per-file row counts, {relative_path: n}; files
        written before row counts existed are absent (``row_count``
        then falls back to a data read)."""
        out: dict = {}
        for name in snap["manifests"]:
            doc = json.loads(self._read_text(f"{self._meta_dir()}/{name}"))
            out.update(doc.get("rows", {}))
        return out

    def row_count(
        self, filters: dict | None = None, version: int | None = None
    ) -> int:
        """COUNT(*) for a snapshot. Without ``filters`` this is
        METADATA-ONLY when every live file carries a recorded row count
        (one manifest read, zero data-file opens — Iceberg's
        count-from-manifests fast path; at 100 TB the difference between
        a millisecond and a full scan); pre-row-count manifests fall
        back to ``read().count()``. With ``filters`` the count comes
        from the stats-pruned ``scan`` (a residual predicate cannot be
        answered from metadata)."""
        snap = self.snapshot(version)
        if filters:
            candidates, _ = self._split_by_overlap(snap, filters)
            return (
                self._read_entries(snap, candidates)
                .where(self._interval_pred(filters))
                .count()
            )
        rows = self.file_rows(snap)
        entries = self.files(snap)
        if not snap.get("deletes") and all(rel in rows for rel, _ in entries):
            # pending merge-on-read deletes invalidate the recorded
            # per-file counts (they count pre-delete rows) — fall back
            return sum(rows[rel] for rel, _ in entries)
        return self.read(snap["version"]).count()

    def column_bounds(
        self, col: str, version: int | str | None = None
    ) -> tuple | None:
        """Global [min, max] of a column from MANIFEST stats only (zero
        data reads — the 100-TB way to size histogram bins or sanity-
        check a range). Returns None when any live file lacks a usable
        bound for the column (pre-stats manifests, all-string truncated
        upper bounds, a file-local all-NULL column is skipped): an
        honest "unknown" beats a silently-partial answer. Renamed
        columns translate to each file's physical name."""
        snap = self.snapshot(version)
        stats = self.file_stats(snap)
        renames = snap.get("renames") or []
        rscoped = [set(r["files"]) for r in renames]
        lo = hi = None
        for rel, _ in self.files(snap):
            pcol = self._physical_name(
                col,
                frozenset(
                    i for i, rels in enumerate(rscoped) if rel in rels
                ),
                renames,
            )
            b = stats.get(rel, {}).get(pcol)
            if b is None:
                return None
            mn, mx = b
            if mn is None and mx is None:
                continue  # all-NULL in this file: constrains nothing
            if mx is None:
                return None  # truncated string upper bound: unknowable
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        return None if lo is None else (lo, hi)

    def files(self, snap: dict) -> list[list]:
        """A snapshot's full [relative_path, bytes] list, resolved
        through its manifests (reads O(commits) small metadata files,
        never the data directory)."""
        out: list[list] = []
        for name in snap["manifests"]:
            out.extend(
                json.loads(self._read_text(f"{self._meta_dir()}/{name}"))["files"]
            )
        return out

    def exists(self) -> bool:
        return self.current_version() is not None

    @staticmethod
    def _entry_layout(rel: str) -> tuple[str, ...]:
        """A file entry's hive partition-column sequence, read off its
        directory segments (``data/part=0/x.parquet`` -> ``('part',)``,
        an unpartitioned ``data/x.parquet`` -> ``()``)."""
        return tuple(
            seg.split("=", 1)[0] for seg in rel.split("/")[:-1] if "=" in seg
        )

    def _snap_layouts(self, snap: dict) -> set[tuple[str, ...]]:
        """The snapshot's set of hive layouts: its recorded ``layouts``
        field, else (snapshots committed before the field existed) read
        off its file list. The record is what keeps a commit's layout
        guard constant in table history."""
        rec = snap.get("layouts")
        if rec is not None:
            return {tuple(lay) for lay in rec}
        return self._layouts_of(self.files(snap))

    @classmethod
    def _layouts_of(cls, entries: list[list]) -> set[tuple[str, ...]]:
        """The hive layouts of a file list (recorded in the snapshot as
        the sorted list of lists, ``sorted(map(list, layouts))``)."""
        return {cls._entry_layout(rel) for rel, _ in entries}

    def _layout_partition_cols(self, snap: dict) -> list[str] | None:
        """The snapshot's uniform hive partition layout, or None when
        the table is unpartitioned/empty. Every write op defaults its
        ``partition_by`` to this: a rewrite or append that silently
        switched layout would commit a MIXED file tree, and Spark's
        basePath partition recovery drops the minority layout's rows on
        read — the one failure mode a metadata-tracked table must never
        allow (see the layout guard in the commit paths)."""
        layouts = self._snap_layouts(snap)
        if len(layouts) == 1:
            return list(next(iter(layouts))) or None
        return None

    def _guard_layout(
        self,
        layouts: set[tuple[str, ...]],
        context: str,
        sanctioned: set | None = None,
    ) -> None:
        """Fail a commit whose final file list's ``layouts`` mix,
        UNLESS every layout present is ``sanctioned`` (already in the
        base snapshot — i.e. an earlier ``evolve_layout=True`` append
        deliberately introduced it). Reads are mixed-layout safe (one
        reader per layout group); the guard exists to catch ACCIDENTAL
        switches, which would otherwise silently fragment the tree."""
        if len(layouts) > 1 and not (sanctioned and layouts <= sanctioned):
            raise ValueError(
                f"{context} would commit a mixed partition layout "
                f"{sorted(layouts)} to {self.root}; pass the table's "
                "existing partition_by, or evolve_layout=True to "
                "sanction the switch (or rewrite the whole table via "
                "overwrite/compact)"
            )

    @staticmethod
    def _canonical_specs(partition_by: list[str] | None) -> list[str]:
        """partition_by entries in canonical spec form (validates them;
        [] for unpartitioned) — what the snapshot records so appends and
        rewrites inherit TRANSFORMS, not just hive directory names."""
        from .transforms import parse_partition_specs

        if not partition_by:
            return []
        return [t.spec for t in parse_partition_specs(partition_by)]

    @staticmethod
    def _spec_hive_names(partition_by: list[str]) -> list[str]:
        """The hive directory keys a partition_by list produces (==
        the list itself when every entry is a plain column)."""
        from .transforms import parse_partition_specs

        return [t.hive_name for t in parse_partition_specs(partition_by)]

    def partition_specs(self, snap: dict) -> list[str] | None:
        """The snapshot's partition spec (canonical strings, possibly
        transforms), or None when unpartitioned. Pre-spec snapshots fall
        back to the path-derived hive names (always identity)."""
        spec = snap.get("partition_spec")
        if spec is not None:
            return list(spec) or None
        return self._layout_partition_cols(snap)

    # -- write path -------------------------------------------------------
    def _write_data_files(
        self, df: DataFrame, partition_by: list[str] | None, cluster: bool = True
    ) -> list[list]:
        """Write df's rows as immutable files, uniquely named under the
        shared hive-style data layout (``data/part=K/<commit>-<file>``);
        return their [relative_path, bytes] entries. The files are not
        visible to any reader until a snapshot referencing them commits —
        reads go through the metadata file list, never a directory scan.

        ``partition_by`` entries may be partition TRANSFORMS
        (``days(ts)``, ``bucket(16, id)`` — see ``sources/transforms``):
        the derived value is computed here, lives only in the directory
        name (partitionBy lifts it out of the data files), and the
        pinned snapshot schema hides it from readers — Iceberg's hidden
        partitioning.

        A partitioned write is first clustered by its directory keys (a
        ``rebalance`` hint: one exchange, which AQE coalesces for small
        writes and splits when a key is skewed), so each partition value
        lands in one file per output task rather than one per input
        task. ``cluster=False`` keeps df's own distribution: compaction
        sets its range, z-order or partition distribution itself, and
        the hint would replace it.

        The write lands in a scratch commit dir first (Spark owns that
        layout), then each data file is renamed into place: one cheap
        metadata op per file on hdfs://-like filesystems, and the shared
        layout keeps Spark's partition-column recovery (basePath) valid
        across commits."""
        commit = uuid.uuid4().hex[:12]
        scratch = f"{self._data_dir()}/_scratch_{commit}"
        if partition_by:
            from .transforms import parse_partition_specs

            transforms = parse_partition_specs(partition_by)
            dtypes = dict(df.dtypes)
            missing = [t.source for t in transforms if t.source not in dtypes]
            if missing:
                raise ValueError(
                    f"partition_by references missing column(s) {missing}; "
                    f"df has {sorted(dtypes)}"
                )
            clash = [
                t.hive_name
                for t in transforms
                if not t.is_identity and t.hive_name in dtypes
            ]
            if clash:
                # silently overwriting a real data column with the
                # derived key would corrupt it on every read (the
                # pinned schema keeps the user's type, the path carries
                # the transform's string) — fail the write instead
                raise ValueError(
                    f"partition transform key(s) {clash} collide with "
                    "existing data column(s); rename the column or the "
                    "transform source"
                )
            for t in transforms:
                if not t.is_identity:
                    df = df.withColumn(t.hive_name, t.expr(dtypes[t.source]))
            keys = [t.hive_name for t in transforms]
            if cluster:
                df = df.hint("rebalance", *keys)
            w = df.write.mode("error").partitionBy(*keys)
        else:
            w = df.write.mode("error")
        cols = set(df.columns)
        for c, ndv in self._resolved_blooms().items():
            if c in cols:
                w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
                w = w.option(
                    f"parquet.bloom.filter.expected.ndv#{c}", str(int(ndv))
                )
        w.parquet(scratch)
        files: list[list] = []
        it = self._fs.listFiles(self._Path(scratch), True)
        to_move: list[tuple[str, str]] = []
        while it.hasNext():
            f = it.next()
            name = f.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue
            inner = f.getPath().toString().split(f"{scratch}/", 1)[1]
            parts = inner.rsplit("/", 1)
            if len(parts) == 2:
                rel = f"data/{parts[0]}/{commit}-{parts[1]}"
            else:
                rel = f"data/{commit}-{inner}"
            to_move.append((f.getPath().toString(), rel))
            files.append([rel, int(f.getLen())])
        for src, rel in to_move:
            dest = self._Path(f"{self.root}/{rel}")
            self._fs.mkdirs(dest.getParent())
            if not self._fs.rename(self._Path(src), dest):
                raise IOError(f"could not place data file {rel}")
        self._fs.delete(self._Path(scratch), True)
        return files

    def _try_commit(self, version: int, snap: dict) -> bool:
        """Atomic compare-and-swap: the publish fails iff v<version>.json
        exists (or a racer published first) — the loser retries.

        Stamps ``committed_at`` (epoch seconds) if absent — the ONE
        place every commit funnels through. Derived commits that copy a
        parent record (rollback, MOR delete, schema DDL) pop the
        inherited stamp first so they record their own time; branch
        fast-forward deliberately keeps the original stamp (the commit
        HAPPENED when the branch landed it, and the byte-identical
        replay is what makes the publish crash-resumable)."""
        import time as _time

        if "committed_at" not in snap:
            snap = {**snap, "committed_at": round(_time.time(), 3)}
        return self._publish(self._vpath(version), json.dumps(snap, sort_keys=True))

    def _schema_fields(self, df: DataFrame) -> list:
        return sorted((f.name, f.dataType.simpleString()) for f in df.schema.fields)

    def _commit(
        self,
        df: DataFrame,
        operation: str,
        partition_by: list[str] | None,
        base_files: bool,
        merge_schema: bool = False,
        stream_marker: tuple[str, int] | None = None,
        evolve_layout: bool = False,
    ) -> int:
        new_files = self._write_data_files(df, partition_by)
        new_manifest = self._write_manifest(
            new_files, *self._collect_stats(new_files)
        )
        return self._commit_staged(
            new_files,
            new_manifest,
            df.schema.json(),
            self._schema_fields(df),
            operation,
            partition_by,
            base_files,
            merge_schema,
            stream_marker,
            evolve_layout,
        )

    def _commit_staged(
        self,
        new_files: list[list],
        new_manifest: str,
        schema_json: str,
        fields: list,
        operation: str,
        partition_by: list[str] | None,
        base_files: bool,
        merge_schema: bool = False,
        stream_marker: tuple[str, int] | None = None,
        evolve_layout: bool = False,
    ) -> int:
        """The commit half of a write: CAS-retry loop over
        already-written data files + manifest (shared by the one-shot
        ops and the stage/publish pair)."""
        for _ in range(_MAX_COMMIT_RETRIES):
            cur = self.current_version()
            parent = self.snapshot(cur) if cur is not None else None
            layouts = self._layouts_of(new_files)
            if base_files and cur is not None:
                # the parent's recorded layouts stand in for its file
                # list: the guard reads no manifest, whatever the history
                parent_layouts = self._snap_layouts(parent)
                layouts |= parent_layouts
                if not evolve_layout:
                    self._guard_layout(layouts, operation, parent_layouts)
                parent_fields = sorted(
                    map(tuple, json.loads(parent["schema_fields"]))
                )
                if parent_fields != fields:
                    # additive evolution (Iceberg add-column semantics):
                    # df must carry every parent field unchanged; the
                    # new snapshot's schema is then df's (the union) and
                    # older files read the added columns as NULL under
                    # the pinned snapshot schema
                    additive = merge_schema and all(
                        f in fields for f in parent_fields
                    )
                    if additive:
                        # a NEW column must not reuse a name that still
                        # exists PHYSICALLY in live files (the old name
                        # of a rename, or a dropped column): the pinned
                        # schema would silently read the stale values
                        # into the new column for those files
                        added = {n for n, _ in fields} - {
                            n for n, _ in parent_fields
                        }
                        live = None
                        for ent in parent.get("retired") or []:
                            if ent["name"] not in added:
                                continue
                            if live is None:
                                live = {
                                    rel for rel, _ in self.files(parent)
                                }
                            if live & set(ent["files"]):
                                raise ValueError(
                                    f"cannot add column {ent['name']!r}:"
                                    " the name is still carried "
                                    "physically by live data files "
                                    "(renamed or dropped earlier); "
                                    "compact() first or pick another "
                                    "name"
                                )
                    if not additive:
                        raise ValueError(
                            f"append schema mismatch vs snapshot v{cur}: "
                            f"{parent['schema_fields']} != {fields}"
                            + (
                                ""
                                if merge_schema
                                else " (additive evolution: pass "
                                "merge_schema=True)"
                            )
                        )
                manifests = list(parent["manifests"]) + [new_manifest]
            else:
                manifests = [new_manifest]
            version = 0 if cur is None else cur + 1
            # a non-evolving append records the PARENT's spec, not its
            # own resolution: if a concurrent evolve_layout commit won
            # the race, re-recording the spec this writer resolved
            # before the race would silently undo the evolution (its
            # files still land under the old — sanctioned — layout;
            # only the spec RECORD follows the chain head)
            own_spec = self._canonical_specs(partition_by)
            if base_files and parent is not None and not evolve_layout:
                spec = parent.get("partition_spec", own_spec)
            else:
                spec = own_spec
            snap = {
                "version": version,
                "parent": cur,
                "operation": operation,
                "schema": schema_json,
                "schema_fields": json.dumps(fields),
                "manifests": manifests,
                "partition_spec": spec,
                "layouts": sorted(map(list, layouts)),
            }
            blooms = self._resolved_blooms()
            if blooms:
                snap["bloom_columns"] = blooms
            # pending merge-on-read deletes follow the files they scope:
            # an append keeps them (its new files are exempt — not in
            # any scope list); an overwrite replaces the content and
            # drops them with it. Rename scopes and retired-name guards
            # ride along identically.
            if base_files and parent:
                for k in ("deletes", "renames", "retired", "defaults"):
                    if parent.get(k):
                        snap[k] = parent[k]
            # stream watermarks ride the chain HEAD: every commit copies
            # its parent's map forward, so the exactly-once check is one
            # current-snapshot read and expire_snapshots can never lose
            # it (the state lives in every later snapshot, not only the
            # one that recorded it)
            state = dict(parent.get("stream_state", {})) if parent else {}
            if stream_marker is not None:
                state[stream_marker[0]] = int(stream_marker[1])
            if state:
                snap["stream_state"] = state
            if self._try_commit(version, snap):
                return version
            # lost the race: a concurrent commit landed at `version` —
            # loop re-reads the new current snapshot so ITS rows are
            # retained under append semantics
        raise CommitConflict(
            f"could not commit to {self.root} after "
            f"{_MAX_COMMIT_RETRIES} attempts"
        )

    def stream_batch(self, run_key: str) -> int | None:
        """The highest streaming batch id committed for ``run_key``
        (None before the first) — one current-snapshot read. The
        exactly-once probe for the snapshot streaming sink: a replayed
        foreachBatch invocation with batch_id <= this is a no-op."""
        if not self.exists():
            return None
        state = self.snapshot().get("stream_state", {})
        v = state.get(run_key)
        return None if v is None else int(v)

    def append(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        merge_schema: bool = False,
        stream_marker: tuple[str, int] | None = None,
        evolve_layout: bool = False,
    ) -> int:
        """Snapshot-atomic append; returns the committed version.
        ``merge_schema=True`` allows ADDITIVE evolution: df may carry
        new columns (the snapshot schema becomes the union; rows from
        older files read the added columns as NULL), but existing
        columns must keep their types. ``partition_by=None`` inherits
        the table's current partition spec — TRANSFORMS included, so an
        append to a ``days(ts)``-partitioned table derives the same
        directory keys.

        ``evolve_layout=True`` sanctions PARTITION SPEC EVOLUTION: this
        append's files land under the new ``partition_by`` while old
        files keep their layout (Iceberg's spec-evolution semantics —
        data is never rewritten to change a spec). Reads handle the mix
        (one reader per layout group); directory pruning applies
        per-file, so old-layout files simply fall back to footer-stats
        pruning under the NEW spec's filters; later appends inherit the
        new spec without the flag; ``compact()`` consolidates the whole
        table into the current spec. An unsanctioned layout switch
        still fails closed — accidental mixes fragment the tree."""
        if partition_by is None and self.exists():
            partition_by = self.partition_specs(self.snapshot())
        return self._commit(
            df,
            "append",
            partition_by,
            base_files=True,
            merge_schema=merge_schema,
            stream_marker=stream_marker,
            evolve_layout=evolve_layout,
        )

    # -- write-audit-publish -----------------------------------------------
    def stage_append(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        merge_schema: bool = False,
    ) -> dict:
        """Phase 1 of write-audit-publish: write df's data files and
        their manifest, but commit NO snapshot — the rows are invisible
        to every reader. Returns a JSON-serializable handle for
        :meth:`read_staged` (audit), :meth:`publish` (atomic commit) or
        :meth:`abort_staged` (discard). The gate pattern for a
        validated 100-TB ingest: bad data never becomes a committed
        snapshot, and the publish is the same compare-and-swap as a
        plain append (concurrent commits in the audit window are
        retried past, both survive).

        Caveat (same as Iceberg's WAP): ``vacuum()`` cannot tell a
        staged-awaiting-audit file from a crashed commit's orphan — do
        not run vacuum while an audit is in flight."""
        if partition_by is None and self.exists():
            partition_by = self.partition_specs(self.snapshot())
        files = self._write_data_files(df, partition_by)
        manifest = self._write_manifest(files, *self._collect_stats(files))
        return {
            "files": files,
            "manifest": manifest,
            "schema": df.schema.json(),
            "schema_fields": self._schema_fields(df),
            "partition_spec": self._canonical_specs(partition_by),
            "merge_schema": bool(merge_schema),
        }

    def read_staged(self, handle: dict) -> DataFrame:
        """The staged (uncommitted, reader-invisible) rows, for the
        audit step: run the validation suite on exactly what publish
        would make visible."""
        return self._read_entries({"schema": handle["schema"]}, handle["files"])

    def publish(
        self, handle: dict, stream_marker: tuple[str, int] | None = None
    ) -> int:
        """Phase 3: atomically commit the staged files as an append
        snapshot. Identical semantics to :meth:`append` (schema guard,
        layout guard, CAS retry past concurrent commits).
        ``stream_marker`` records an exactly-once batch watermark in
        the same commit — the audited-streaming-sink case, where the
        publish and the replay guard must be one atomic step."""
        return self._commit_staged(
            handle["files"],
            handle["manifest"],
            handle["schema"],
            [tuple(f) for f in handle["schema_fields"]],
            "append",
            list(handle["partition_spec"]) or None,
            base_files=True,
            merge_schema=handle.get("merge_schema", False),
            stream_marker=stream_marker,
        )

    def abort_staged(self, handle: dict) -> int:
        """Discard a staged write: delete its data files + manifest.
        Returns how many files were removed. (Leaving the handle to
        ``vacuum()`` works too — this just reclaims immediately.)"""
        n = 0
        for rel, _ in handle["files"]:
            if self._fs.delete(self._Path(f"{self.root}/{rel}"), False):
                n += 1
        if self._fs.delete(
            self._Path(f"{self._meta_dir()}/{handle['manifest']}"), False
        ):
            n += 1
        return n

    def overwrite(self, df: DataFrame, partition_by: list[str] | None = None) -> int:
        """Snapshot-atomic replace (history retained; time travel still
        reads every prior version)."""
        return self._commit(df, "overwrite", partition_by, base_files=False)

    def rollback(self, version: int) -> int:
        """Commit a NEW snapshot whose content is snapshot `version`'s
        (history is never rewritten)."""
        target = self.snapshot(version)
        for _ in range(_MAX_COMMIT_RETRIES):
            cur = self.current_version()
            new_version = (cur or 0) + 1
            snap = dict(target)
            snap.update(
                {"version": new_version, "parent": cur, "operation": "rollback"}
            )
            snap.pop("committed_at", None)  # restamp: this commit is NOW
            # stream watermarks are monotone along the CHAIN, not the
            # content: a rollback rewinds rows, never the exactly-once
            # batch markers (a replayed batch must still be a no-op)
            snap.pop("stream_state", None)
            head_state = (
                self.snapshot(cur).get("stream_state") if cur is not None else None
            )
            if head_state:
                snap["stream_state"] = head_state
            if self._try_commit(new_version, snap):
                return new_version
        raise CommitConflict(f"rollback lost {_MAX_COMMIT_RETRIES} races")

    # -- read path --------------------------------------------------------
    def read(self, version: int | str | None = None) -> DataFrame:
        """Materialize a snapshot (by number, by tag name, or current):
        exactly its file list, no directory
        scan. Empty snapshots read as a typed empty frame. Columns that
        exist only as hidden-partition directory keys (``ts_day=...``
        from a ``days(ts)`` spec) never surface — readers see exactly
        the snapshot schema."""
        snap = self.snapshot(version)
        return self._read_entries(snap, self.files(snap))

    def scan(
        self, filters: dict, version: int | None = None
    ) -> DataFrame:
        """Stats-pruned read: ``filters`` maps column -> (lo, hi) closed
        intervals (either bound may be None for half-open); the result
        is EXACTLY ``read(version).where(<the same intervals>)`` — the
        residual predicate is always applied — but only files whose
        manifest [min, max] bounds overlap every interval are opened.

        This is Iceberg's planning-time data skipping: at millions of
        files, pruning from the manifest avoids even LISTING the
        non-matching files, which parquet footer/row-group skipping
        (still in effect afterwards) cannot do. Files with no recorded
        bounds for a filtered column are never pruned (correctness
        before savings); interval semantics follow SQL BETWEEN, so NULL
        rows never match and null counts are irrelevant to pruning."""
        snap = self.snapshot(version)
        candidates, _ = self._split_by_overlap(snap, filters)
        residual = self._interval_pred(filters)
        return self._read_entries(snap, candidates).where(residual)

    def lookup(
        self, key_col: str, keys: list, version: int | str | None = None
    ) -> DataFrame:
        """Point lookups: exactly the rows whose ``key_col`` is IN
        ``keys`` (NULL keys never match — SQL IN semantics), opening
        only files that could contain at least ONE of the keys — each
        key prunes independently through the same machinery as scan()
        (manifest [min,max] bounds, hive path values, bucket/truncate
        transforms), so "fetch these 50 conv_ids from 100 TB" touches a
        handful of files, and the parquet bloom filters (when
        configured) skip row groups inside them. The read face of
        ``delete_keys``."""
        if not keys:
            raise ValueError("lookup needs at least one key")
        if any(k is None for k in keys):
            raise ValueError("NULL keys never match; remove None from keys")
        snap = self.snapshot(version)
        stats = self.file_stats(snap)  # one manifest parse for ALL keys
        candidates: dict[str, list] = {}
        for k in keys:
            hit, _ = self._split_by_overlap(snap, {key_col: (k, k)}, stats)
            for entry in hit:
                candidates.setdefault(entry[0], entry)
        from pyspark.sql import functions as F

        return self._read_entries(snap, list(candidates.values())).where(
            F.col(key_col).isin(keys)
        )

    def _split_by_overlap(
        self, snap: dict, filters: dict, stats: dict | None = None
    ) -> tuple[list[list], list[list]]:
        """Partition a snapshot's file entries into (possibly-matching,
        provably-non-matching) for interval ``filters``, judged on the
        manifest column bounds plus hive path values for partition
        columns — including HIDDEN-partition keys: a filter on ``ts``
        over a ``days(ts)``-partitioned table is mapped through the
        transform (monotone transforms map interval endpoints; bucket
        serves equality only) and tested against the directory value.
        A file with no recorded bounds for a filtered column is always
        possibly-matching."""
        from .transforms import parse_partition_specs

        if stats is None:
            stats = self.file_stats(snap)
        specs = self.partition_specs(snap)
        derived = {
            t.source: t
            for t in (parse_partition_specs(specs) if specs else [])
            if not t.is_identity
        }
        renames = snap.get("renames") or []
        rscoped = [set(r["files"]) for r in renames]

        def file_col(rel: str, col: str) -> str:
            """The filter column's PHYSICAL name in this file: stats
            and hive dir keys were recorded under the name the file was
            written with, so a renamed column's bounds live under the
            old name for pre-rename files (pruning stays sharp instead
            of degrading to unpruned)."""
            if not renames:
                return col
            scope = frozenset(
                i for i, rels in enumerate(rscoped) if rel in rels
            )
            return self._physical_name(col, scope, renames)

        def path_value(rel: str, name: str) -> str | None:
            # hive path values are %XX-escaped (space -> %20, ':' ->
            # %3A); comparing the RAW segment against unescaped bounds
            # would mis-prune any string with a special character
            from urllib.parse import unquote

            needle = f"{name}="
            for seg in rel.split("/"):
                if seg.startswith(needle):
                    return unquote(seg.split("=", 1)[1])
            return None

        def transform_prunes(rel: str, col: str, lo, hi) -> bool:
            """True when the hidden-partition directory value PROVES
            no row of this file can satisfy [lo, hi] on the source
            column. Conservative on every failure mode (absent key,
            hive NULL dir, unservable bucket range, type mismatch)."""
            t = derived.get(col)
            if t is None:
                return False
            raw = path_value(rel, t.hive_name)
            if raw is None:
                return False
            pv = t.parse_path_value(raw)
            if pv is None:
                return False  # hive NULL sentinel: never pruned
            try:
                iv = t.interval(lo, hi)
                if iv is None:
                    return False  # bucket + range: hash scrambles order
                tlo, thi = iv
                if tlo is not None and pv < tlo:
                    return True
                if thi is not None and pv > thi:
                    return True
            except (TypeError, ValueError):
                return False  # un-mappable filter value: never prune
            return False

        def overlaps(rel: str) -> bool:
            bounds = stats.get(rel, {})
            for lcol, (lo, hi) in filters.items():
                if lo is None and hi is None:
                    continue  # vacuous interval: constrains nothing
                col = file_col(rel, lcol)
                if transform_prunes(rel, col, lo, hi):
                    return False
                if col in bounds:
                    mn, mx = bounds[col]
                    if mn is None and mx is None:
                        # all-NULL column in this file: an interval
                        # predicate can never match (SQL BETWEEN)
                        return False
                else:
                    raw = path_value(rel, col)
                    if raw is None:
                        continue
                    try:
                        v = float(raw)
                    except ValueError:
                        continue
                    mn = mx = v
                # a None half-bound (un-incrementable string max) means
                # "unbounded on that side": never prune on it
                if lo is not None and mx is not None and mx < lo:
                    return False
                if hi is not None and mn is not None and mn > hi:
                    return False
            return True

        hit: list[list] = []
        miss: list[list] = []
        for entry in self.files(snap):
            (hit if overlaps(entry[0]) else miss).append(entry)
        return hit, miss

    @staticmethod
    def _interval_pred(filters: dict):
        """The exact Column predicate for interval ``filters`` (SQL
        BETWEEN semantics: NULLs never match)."""
        from functools import reduce

        from pyspark.sql import functions as F

        preds = [
            p
            for col, (lo, hi) in filters.items()
            for p in (
                [F.col(col) >= lo] if lo is not None else []
            ) + (
                [F.col(col) <= hi] if hi is not None else []
            )
        ]
        return reduce(lambda a, b: a & b, preds) if preds else F.lit(True)

    @staticmethod
    def _physical_name(
        name: str, scope: frozenset | None, renames: list[dict]
    ) -> str:
        """The column name a file actually carries for logical
        ``name``, given which rename entries apply to it (``scope`` =
        indices; None means all). Walk newest rename first: each
        in-scope entry whose NEW name matches the current name steps
        back to its OLD name — composing chains (a->b then b->c) and
        disambiguating reused names (the older file is in the later
        rename's scope, so it keeps walking)."""
        cur = name
        for i in range(len(renames) - 1, -1, -1):
            if (scope is None or i in scope) and renames[i]["new"] == cur:
                cur = renames[i]["old"]
        return cur

    def _read_entries(self, snap: dict, entries: list[list]) -> DataFrame:
        """Materialize a subset of a snapshot's file entries under its
        pinned schema (typed empty frame for no entries), applying any
        pending MERGE-ON-READ deletes scoped to those files. Entries
        are read per (hive layout, applicable-delete set) group and
        unioned: any ONE snapshot's list is layout-uniform
        (_guard_layout), but incremental_read ranges that span a
        sanctioned layout change (e.g. a flat sort-compact on a hive
        table) legitimately mix hive and flat files — fed to one
        reader, Spark's partition discovery would fail on the
        conflicting directory structures — and different files can owe
        different delete filters (a file appended after a delete is
        exempt from it).

        RENAMED columns resolve through the snapshot's ``renames``
        scope lists (the same files-the-DDL-saw mechanism as
        merge-on-read deletes): a file written before ``rename_column``
        physically carries the OLD name, so its group reads under a
        physical schema with the old name and aliases back to the
        logical one; files written after the rename are out of scope
        and read as-is. WIDENED columns need no scope at all — the
        parquet reader upcasts a narrow physical type to the pinned
        wider one natively (SPARK-40876) — and DROPPED columns simply
        leave the pinned schema (the explicit schema never loads the
        stale physical column)."""
        from functools import reduce
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructField, StructType

        schema = StructType.fromJson(json.loads(snap["schema"]))
        if not entries:
            return self.spark.createDataFrame([], schema)
        deletes = snap.get("deletes") or []
        scoped = [set(d["files"]) for d in deletes]
        renames = snap.get("renames") or []
        rscoped = [set(r["files"]) for r in renames]
        defaults = snap.get("defaults") or []
        fscoped = [set(d["files"]) for d in defaults]
        by_group: dict[tuple, list[str]] = {}
        for rel, _ in entries:
            dkey = frozenset(
                i for i, rels in enumerate(scoped) if rel in rels
            )
            rkey = frozenset(
                i for i, rels in enumerate(rscoped) if rel in rels
            )
            fkey = frozenset(
                i for i, rels in enumerate(fscoped) if rel in rels
            )
            by_group.setdefault(
                (self._entry_layout(rel), dkey, rkey, fkey), []
            ).append(rel)
        # the final select pins the column set: Spark APPENDS discovered
        # hive partition columns even under an explicit schema (verified
        # empirically), so a hidden-partition key (days(ts) -> ts_day=)
        # would otherwise leak into every read; identity partition
        # columns are IN the schema and survive the projection
        names = [f.name for f in schema.fields]
        dtype_of = {f.name: f.dataType for f in schema.fields}
        parts = []
        for (_, dkey, rkey, fkey), rels in by_group.items():
            # logical -> physical name for THIS group's files: walk the
            # rename chain newest-first, following only entries whose
            # scope contains the group (chains compose; a name reused
            # by a later rename resolves correctly because the older
            # file sits in the later rename's scope too)
            phys = {
                n: self._physical_name(n, rkey, renames) for n in names
            }
            # add_column initial defaults: a column added after these
            # files were written reads as the recorded CONSTANT, not
            # NULL — scoped, so later rows' genuine NULLs are never
            # papered over
            dflt = {defaults[i]["name"]: defaults[i]["value"] for i in fkey}
            read_schema = StructType(
                [
                    StructField(phys[f.name], f.dataType, f.nullable)
                    for f in schema.fields
                ]
            )
            df = (
                self.spark.read.option("basePath", self._data_dir())
                .schema(read_schema)
                .parquet(*[f"{self.root}/{rel}" for rel in rels])
                .select(
                    *[
                        F.lit(dflt[n]).cast(dtype_of[n]).alias(n)
                        if n in dflt
                        else F.col(phys[n]).alias(n)
                        for n in names
                    ]
                )
            )
            for i in sorted(dkey):
                d = deletes[i]
                if "keys" in d:
                    # key-set (equality) delete: InSet, codegen-fused
                    pred = F.col(d["key_col"]).isin(d["keys"])
                else:
                    pred = self._interval_pred(
                        {c: tuple(iv) for c, iv in d["filters"].items()}
                    )
                df = df.where(~F.coalesce(pred, F.lit(False)))
            parts.append(df)
        return reduce(lambda a, b: a.unionByName(b), parts)

    def added_entries(
        self, from_version: int, to_version: int | None = None
    ) -> list[list]:
        """File entries whose ROWS were appended strictly after
        ``from_version`` up to ``to_version`` (default current), by
        walking the snapshot chain: each ``append`` contributes exactly
        the files it added; ``compact`` rewrites existing rows and
        contributes nothing. Any operation that changes or removes rows
        (delete/merge/overwrite/rollback) — or a hole left by
        ``expire_snapshots`` — raises :class:`IncrementalReadError`,
        because the range is then not expressible as an append-only
        changelog (Iceberg's incremental-read contract)."""
        to_v = self.current_version() if to_version is None else to_version
        if to_v is None or from_version > to_v:
            raise ValueError(
                f"bad incremental range v{from_version}..v{to_version}"
            )

        def snap_at(v: int) -> dict:
            try:
                return self.snapshot(v)
            except FileNotFoundError as exc:
                raise IncrementalReadError(
                    f"snapshot v{v} of {self.root} was expired; the range "
                    f"v{from_version}..v{to_v} has no append-only history "
                    "— read the target snapshot in full instead"
                ) from exc

        # an append keeps its parent's manifests and adds one, so the
        # manifests new in an append hold exactly its files: only those
        # are read, never the whole snapshot's file list
        out: list[list] = []
        prev = set(snap_at(from_version)["manifests"])
        for v in range(from_version + 1, to_v + 1):
            snap = snap_at(v)
            op = snap.get("operation")
            if op == "append":
                for name in snap["manifests"]:
                    if name not in prev:
                        out.extend(
                            json.loads(
                                self._read_text(f"{self._meta_dir()}/{name}")
                            )["files"]
                        )
            elif op not in ("compact", "schema"):
                # "schema" (rename/drop/widen DDL) is metadata-only:
                # rows are untouched, so the range stays an append-only
                # changelog; the delta reads under the TARGET snapshot's
                # schema (rename scopes included)
                raise IncrementalReadError(
                    f"snapshot v{v} of {self.root} is a '{op}' — rows "
                    "changed or were removed, so the range "
                    f"v{from_version}..v{to_v} is not an append-only "
                    "changelog; read the target snapshot in full instead"
                )
            prev = set(snap["manifests"])
        return out

    def incremental_read(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Exactly the rows appended after ``from_version`` up to
        ``to_version``, under the TARGET snapshot's pinned schema (an
        additive-evolution append in the range reads fine: the added
        files carry the new columns). This is what lets a validation
        run over a growing table touch only the delta — pair with
        ``manifest.run_resumable`` for per-partition lineage. Raises
        :class:`IncrementalReadError` when the range is not
        append-only (see :meth:`added_entries`)."""
        to_v = self.current_version() if to_version is None else to_version
        entries = self.added_entries(from_version, to_v)
        return self._read_entries(self.snapshot(to_v), entries)

    def _replace_entries(
        self,
        snap: dict,
        kept_entries: list[list],
        replacement_df: DataFrame,
        operation: str,
        partition_by: list[str] | None,
    ) -> int:
        """Commit ``kept_entries + files(replacement_df)`` as one new
        snapshot pinned to ``snap`` — the copy-on-write commit step
        shared by delete_where/update_where/merge. Untouched files keep
        their recorded stats; rewritten data gets fresh bounds. Like
        compact, the CAS must fail (not retry) past a concurrent commit:
        the rewrite was derived from ``snap``, so landing it later would
        undo the interleaved commit's effect on the rewritten rows.
        ``partition_by=None`` inherits the snapshot's partition spec
        (transforms included); the final file list is guarded against
        layout mixes either way."""
        if partition_by is None:
            partition_by = self.partition_specs(snap)
        all_stats = self.file_stats(snap)
        all_rows = self.file_rows(snap)
        new_files = self._write_data_files(replacement_df, partition_by)
        # layouts already present in the base snapshot are sanctioned
        # (an earlier evolve_layout append introduced them); only a NEW
        # accidental layout fails the commit
        layouts = self._layouts_of(kept_entries + new_files)
        self._guard_layout(layouts, operation, self._snap_layouts(snap))
        stats = {
            rel: all_stats[rel] for rel, _ in kept_entries if rel in all_stats
        }
        rows = {
            rel: all_rows[rel] for rel, _ in kept_entries if rel in all_rows
        }
        new_stats, new_rows = self._collect_stats(new_files)
        stats.update(new_stats)
        rows.update(new_rows)
        manifest = self._write_manifest(kept_entries + new_files, stats, rows)
        base = snap["version"]
        new_snap = {
            "version": base + 1,
            "parent": base,
            "operation": operation,
            "schema": snap["schema"],
            "schema_fields": snap["schema_fields"],
            "manifests": [manifest],
            "partition_spec": self._canonical_specs(partition_by),
            "layouts": sorted(map(list, layouts)),
        }
        if snap.get("stream_state"):
            new_snap["stream_state"] = snap["stream_state"]
        blooms = self._resolved_blooms()
        if blooms:
            new_snap["bloom_columns"] = blooms
        # pending MOR deletes keep scoping the files that carried over
        # unchanged (their rel paths are stable); rewritten rows were
        # read WITH the deletes applied, and rows that land in new files
        # are exempt by construction — including rows update_where just
        # changed INTO a deleted range, which is SQL UPDATE semantics,
        # not a resurrection
        kept_rels = {rel for rel, _ in kept_entries}
        carried = [
            {**d, "files": [r for r in d["files"] if r in kept_rels]}
            for d in (snap.get("deletes") or [])
        ]
        carried = [d for d in carried if d["files"]]
        if carried:
            new_snap["deletes"] = carried
        # rename scopes and retired-name guards shrink to the files that
        # carried over unchanged: rewritten rows were read under the
        # LOGICAL schema and re-written with current physical names, so
        # new files need no mapping. Dropping an entry whose scope went
        # empty cannot break a chain: a live file in an older rename's
        # scope existed at every later rename too (scopes only shrink by
        # file removal), so an older entry can only outlive a newer one
        # when no live file needs the newer step.
        for k in ("renames", "retired", "defaults"):
            kept = [
                {**e, "files": [r for r in e["files"] if r in kept_rels]}
                for e in (snap.get(k) or [])
            ]
            kept = [e for e in kept if e["files"]]
            if kept:
                new_snap[k] = kept
        if not self._try_commit(base + 1, new_snap):
            raise CommitConflict(
                f"table {self.root} advanced past v{base} during "
                f"{operation}; vacuum will reclaim the attempt's files — "
                "rerun against the new current snapshot"
            )
        return base + 1

    def _commit_mor_delete(self, snap: dict, entry: dict) -> int:
        """Commit a merge-on-read delete: the base snapshot plus one
        more ``deletes`` entry, no data written. Pins the base version
        (a lost CAS means the scope list is stale — rerun)."""
        base = snap["version"]
        new_snap = dict(snap)
        new_snap.pop("committed_at", None)  # restamp: this commit is NOW
        new_snap.update(
            {
                "version": base + 1,
                "parent": base,
                "operation": "delete",
                "deletes": list(snap.get("deletes") or []) + [entry],
            }
        )
        if not self._try_commit(base + 1, new_snap):
            raise CommitConflict(
                f"table {self.root} advanced past v{base} during "
                "merge-on-read delete; rerun against the new current "
                "snapshot"
            )
        return base + 1

    def delete_where(
        self,
        filters: dict,
        partition_by: list[str] | None = None,
        mode: str = "copy-on-write",
    ) -> int | None:
        """Row deletion by interval ``filters`` (same {col: (lo, hi)}
        form as ``scan``; NULLs never match, so NULL-keyed rows are
        never deleted). Returns the new version, or None when no file
        can contain a match (metadata-only no-op). Raises
        CommitConflict if a concurrent commit lands first (rerun on the
        new snapshot).

        ``mode="copy-on-write"`` (default): only files whose manifest
        bounds overlap the intervals are rewritten — every other file
        is carried into the new snapshot untouched, stats included.
        Reads stay rewrite-free.

        ``mode="merge-on-read"``: NO data is written at all — the
        commit records the filter plus the rel-paths of the files it
        applies to (only bound-overlapping candidates, so the scope
        list stays small), and every read applies the negated filter to
        exactly those files. Files appended later are exempt by
        construction. At 100 TB this is the difference between a
        millisecond metadata commit and rewriting terabytes for a
        GDPR-style trickle of deletes; ``compact()`` materializes
        pending deletes and clears them (and always rewrites while any
        are pending). Filter values must be JSON-serializable
        (numbers / ISO strings)."""
        from pyspark.sql import functions as F

        snap = self.snapshot()
        candidates, untouched = self._split_by_overlap(snap, filters)
        if not candidates:
            return None
        if mode == "merge-on-read":
            entry = {
                "filters": {
                    c: [lo, hi] for c, (lo, hi) in filters.items()
                },
                "files": sorted(rel for rel, _ in candidates),
            }
            try:
                json.dumps(entry["filters"])
            except TypeError as exc:
                raise TypeError(
                    "merge-on-read delete filters must be "
                    "JSON-serializable (numbers / ISO strings); got "
                    f"{filters!r}"
                ) from exc
            return self._commit_mor_delete(snap, entry)
        if mode != "copy-on-write":
            raise ValueError(
                f"unknown delete mode {mode!r}: expected "
                "'copy-on-write' or 'merge-on-read'"
            )
        pred = self._interval_pred(filters)
        survivors = self._read_entries(snap, candidates).where(
            ~F.coalesce(pred, F.lit(False))
        )
        return self._replace_entries(
            snap, untouched, survivors, "delete", partition_by
        )

    def delete_keys(
        self,
        key_col: str,
        keys: list,
        partition_by: list[str] | None = None,
        mode: str = "merge-on-read",
        max_keys: int = 100_000,
    ) -> int | None:
        """Row deletion by KEY SET — "remove these conv_ids", the
        GDPR/takedown shape. Candidate files come from the keys'
        [min, max] envelope against the manifest bounds (sorted string
        keys prune well under the truncate(16) contract). Defaults to
        ``merge-on-read`` — a metadata-only commit recording the key
        list and the files it scopes; reads apply a codegen-fused
        NOT-IN to exactly those files, and ``compact()`` materializes.
        ``mode="copy-on-write"`` rewrites the candidate files minus the
        keyed rows instead. The inline list is capped at ``max_keys``
        (it lives in the snapshot document and in every reader's plan)
        — past that, batch the deletes or use ``merge`` with a
        tombstone frame. NULL keys never match (SQL IN semantics);
        NULL entries in ``keys`` are rejected. Returns the new version,
        or None when no file can contain a match."""
        keys = list(keys)
        if not keys:
            return None
        if any(k is None for k in keys):
            raise ValueError("delete_keys: NULL keys can never match; "
                             "drop them from the list")
        if len(keys) > max_keys:
            raise ValueError(
                f"delete_keys: {len(keys)} keys exceeds max_keys="
                f"{max_keys} (the list is carried in table metadata and "
                "every reader's plan); batch the deletes or merge a "
                "tombstone frame instead"
            )
        try:
            json.dumps(keys)
        except TypeError as exc:
            raise TypeError(
                "delete_keys: keys must be JSON-serializable "
                "(numbers / strings)"
            ) from exc
        snap = self.snapshot()
        candidates, untouched = self._split_by_overlap(
            snap, {key_col: (min(keys), max(keys))}
        )
        if not candidates:
            return None
        if mode == "merge-on-read":
            entry = {
                "key_col": key_col,
                "keys": sorted(keys),
                "files": sorted(rel for rel, _ in candidates),
            }
            return self._commit_mor_delete(snap, entry)
        if mode != "copy-on-write":
            raise ValueError(
                f"unknown delete mode {mode!r}: expected "
                "'copy-on-write' or 'merge-on-read'"
            )
        from pyspark.sql import functions as F

        survivors = self._read_entries(snap, candidates).where(
            ~F.coalesce(F.col(key_col).isin(keys), F.lit(False))
        )
        return self._replace_entries(
            snap, untouched, survivors, "delete", partition_by
        )

    def update_where(
        self,
        filters: dict,
        assignments: dict,
        partition_by: list[str] | None = None,
    ) -> int | None:
        """Copy-on-write UPDATE: commit a new snapshot where every row
        matching the interval ``filters`` (same {col: (lo, hi)} form as
        ``scan``; NULLs never match, so NULL-keyed rows are never
        updated) has each ``assignments`` column replaced by its new
        value — a Column expression (may reference the row's other
        columns) or a plain literal, cast to the column's existing type
        (SQL UPDATE semantics; the schema never changes). Only files
        whose manifest bounds overlap the intervals are rewritten;
        every other file carries over untouched, stats included.
        Returns the new version, or None when no file can contain a
        match (metadata-only no-op). Raises CommitConflict if a
        concurrent commit lands first (rerun on the new snapshot). An
        ``update`` snapshot poisons incremental_read ranges exactly
        like delete/merge: rows changed in place, so the range is no
        longer an append-only changelog."""
        from pyspark.sql import Column
        from pyspark.sql import functions as F

        snap = self.snapshot()
        schema = dict(map(tuple, json.loads(snap["schema_fields"])))
        unknown = sorted(set(assignments) - set(schema))
        if unknown:
            raise ValueError(
                f"update_where: unknown column(s) {unknown}; snapshot "
                f"v{snap['version']} has {sorted(schema)}"
            )
        candidates, untouched = self._split_by_overlap(snap, filters)
        if not candidates:
            return None
        pred = F.coalesce(self._interval_pred(filters), F.lit(False))
        updated = self._read_entries(snap, candidates).withColumns(
            {
                col: F.when(
                    pred,
                    (
                        val if isinstance(val, Column) else F.lit(val)
                    ).cast(schema[col]),
                ).otherwise(F.col(col))
                for col, val in assignments.items()
            }
        )
        return self._replace_entries(
            snap, untouched, updated, "update", partition_by
        )

    def merge(
        self,
        df: DataFrame,
        key_cols: list[str],
        partition_by: list[str] | None = None,
    ) -> int:
        """Copy-on-write upsert (MERGE: delete-matching-keys then
        insert): every row of ``df`` replaces any current rows sharing
        its key; all other rows are untouched. Candidate files are found
        from manifest key bounds — one tiny agg over ``df`` for the
        incoming key envelope, then only overlapping files are read and
        rewritten (anti-join on the distinct incoming keys, which Spark
        broadcasts when the batch is small); everything else is carried
        over with its stats. The signature-store / verdict-table upkeep
        op for a continuous crawl. Raises CommitConflict on a lost race
        (rerun on the new snapshot); schema must match the snapshot's."""
        from pyspark.sql import functions as F

        snap = self.snapshot()
        fields = self._schema_fields(df)
        if sorted(map(tuple, json.loads(snap["schema_fields"]))) != fields:
            raise ValueError(
                f"merge schema mismatch vs snapshot v{snap['version']}: "
                f"{snap['schema_fields']} != {fields}"
            )
        # incoming key envelope -> candidate files via manifest bounds
        env = df.agg(
            *[
                f(c).alias(f"{tag}_{c}")
                for c in key_cols
                for tag, f in (("lo", F.min), ("hi", F.max))
            ]
        ).collect()[0]
        filters = {c: (env[f"lo_{c}"], env[f"hi_{c}"]) for c in key_cols}
        if any(lo is None and hi is None for lo, hi in filters.values()):
            # empty batch, or a key column that is entirely NULL: no
            # incoming key can equal any current key, so nothing is
            # replaced — the merge degenerates to a plain rewrite-free
            # insert of df's rows
            candidates, untouched = [], self.files(snap)
        else:
            candidates, untouched = self._split_by_overlap(snap, filters)
        current = self._read_entries(snap, candidates)
        keys = df.select(*key_cols).distinct()
        survivors = current.join(keys, key_cols, "left_anti")
        rewritten = survivors.unionByName(df)
        return self._replace_entries(
            snap, untouched, rewritten, "merge", partition_by
        )

    # -- schema evolution DDL (metadata-only commits) -------------------------
    _WIDENINGS = {
        "tinyint": {"smallint", "int", "bigint", "double"},
        "smallint": {"int", "bigint", "double"},
        "int": {"bigint", "double"},
        "float": {"double"},
    }

    def _spec_sources(self, snap: dict) -> set[str]:
        from .transforms import parse_partition_specs

        specs = self.partition_specs(snap)
        return {t.source for t in parse_partition_specs(specs or [])}

    def _commit_schema(self, snap: dict, schema, extra: dict) -> int:
        """Commit a metadata-only schema change: same manifests, same
        rows, new pinned schema — operation ``schema``. Pinned to the
        base version like every derived commit (a lost CAS means the
        guards ran against a stale snapshot — rerun)."""
        base = snap["version"]
        new_snap = dict(snap)
        new_snap.pop("committed_at", None)  # restamp: this commit is NOW
        new_snap.update(
            {
                "version": base + 1,
                "parent": base,
                "operation": "schema",
                "schema": schema.json(),
                "schema_fields": json.dumps(
                    sorted(
                        (f.name, f.dataType.simpleString())
                        for f in schema.fields
                    )
                ),
                **extra,
            }
        )
        if not self._try_commit(base + 1, new_snap):
            raise CommitConflict(
                f"table {self.root} advanced past v{base} during schema "
                "DDL; rerun against the new current snapshot"
            )
        return base + 1

    _ADDABLE = {
        "string",
        "boolean",
        "tinyint",
        "smallint",
        "int",
        "bigint",
        "float",
        "double",
        "date",
        "timestamp",
    }

    def add_column(self, name: str, dtype: str, default=None) -> int:
        """ALTER TABLE ADD COLUMN without touching data files: the
        pinned schema gains the field, existing rows read it as
        ``default`` (a constant; None for NULL), later appends supply
        real values. The default is SCOPED to the files the DDL saw —
        the same mechanism as renames — so a later row whose value is
        genuinely NULL is never papered over by the default. The other
        way to add a column is an additive append
        (``merge_schema=True``), which backfills NULL; this is the
        metadata-only form with Iceberg-v3-style initial defaults."""
        from datetime import date, datetime

        from pyspark.sql.types import StructField, StructType

        snap = self.snapshot()
        schema = StructType.fromJson(json.loads(snap["schema"]))
        names = [f.name for f in schema.fields]
        if name in names:
            raise ValueError(f"column {name!r} already exists")
        if dtype not in self._ADDABLE:
            raise ValueError(
                f"add_column supports scalar types {sorted(self._ADDABLE)}, "
                f"got {dtype!r}"
            )
        specs = self.partition_specs(snap) or []
        if name in self._spec_hive_names(specs):
            raise ValueError(
                f"column name {name!r} collides with a derived partition "
                "key of the current layout"
            )
        live = {rel for rel, _ in self.files(snap)}
        for ent in snap.get("retired") or []:
            if ent["name"] == name and live & set(ent["files"]):
                raise ValueError(
                    f"cannot add column {name!r}: the name is still "
                    "carried physically by live data files (renamed or "
                    "dropped earlier); compact() first or pick another "
                    "name"
                )
        if default is not None and not isinstance(
            default, (str, bool, int, float, date, datetime)
        ):
            raise ValueError(
                f"default must be a constant scalar, got {type(default)}"
            )
        field = StructField(name, _simple_type(dtype), True)
        extra: dict = {}
        if default is not None:
            extra["defaults"] = list(snap.get("defaults") or []) + [
                {
                    "name": name,
                    "value": default.isoformat()
                    if isinstance(default, (date, datetime))
                    else default,
                    "files": sorted(live),
                }
            ]
        elif snap.get("defaults"):
            extra["defaults"] = snap["defaults"]
        return self._commit_schema(
            snap, StructType(list(schema.fields) + [field]), extra
        )

    def rename_column(self, old: str, new: str) -> int:
        """Rename a column without touching data files (Iceberg ALTER
        TABLE RENAME COLUMN semantics). Existing files keep the old
        physical name; the commit records a rename entry scoped to the
        files it saw (exactly the merge-on-read delete mechanism), and
        every read resolves the chain per file group. Later appends
        write the new name physically. Pending merge-on-read delete
        predicates that reference the old name are rewritten in the
        same commit, so they keep filtering after the rename."""
        from pyspark.sql.types import StructType

        snap = self.snapshot()
        schema = StructType.fromJson(json.loads(snap["schema"]))
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no column {old!r} to rename; have {names}")
        if new in names:
            raise ValueError(f"rename target {new!r} already exists")
        if old in self._spec_sources(snap):
            raise ValueError(
                f"column {old!r} is a partition-spec source; evolve the "
                "layout away from it (append with evolve_layout=True) "
                "before renaming"
            )
        specs = self.partition_specs(snap) or []
        if new in self._spec_hive_names(specs):
            raise ValueError(
                f"rename target {new!r} collides with a derived "
                "partition key of the current layout"
            )
        for f in schema.fields:
            if f.name == old:
                f.name = new
        files = sorted(rel for rel, _ in self.files(snap))
        entry = {"new": new, "old": old, "files": files}
        extra = {
            "renames": list(snap.get("renames") or []) + [entry],
            "retired": list(snap.get("retired") or [])
            + [{"name": old, "files": files}],
        }
        if any(d["name"] == old for d in snap.get("defaults") or []):
            # an initial default follows its column's LOGICAL name
            extra["defaults"] = [
                {**d, "name": new} if d["name"] == old else d
                for d in snap["defaults"]
            ]
        deletes = snap.get("deletes") or []
        if any(
            d.get("key_col") == old or old in d.get("filters", {})
            for d in deletes
        ):
            rewritten = []
            for d in deletes:
                d = dict(d)
                if d.get("key_col") == old:
                    d["key_col"] = new
                if "filters" in d and old in d["filters"]:
                    d["filters"] = {
                        (new if c == old else c): iv
                        for c, iv in d["filters"].items()
                    }
                rewritten.append(d)
            extra["deletes"] = rewritten
        return self._commit_schema(snap, StructType(schema.fields), extra)

    def drop_column(self, name: str) -> int:
        """Drop a column without rewriting data (the stale physical
        column stays in old files but the pinned schema never loads
        it). The name is RETIRED while those files live: re-adding it
        via additive evolution would silently resurrect the stale
        values, so that append fails until compact() rewrites the
        files. Refuses to drop a column a pending merge-on-read delete
        still filters on (compact() first to materialize the delete)."""
        from pyspark.sql.types import StructType

        snap = self.snapshot()
        schema = StructType.fromJson(json.loads(snap["schema"]))
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(f"no column {name!r} to drop; have {names}")
        if len(names) == 1:
            raise ValueError("cannot drop the only column")
        if name in self._spec_sources(snap):
            raise ValueError(
                f"column {name!r} is a partition-spec source; evolve the "
                "layout away from it before dropping"
            )
        for d in snap.get("deletes") or []:
            if d.get("key_col") == name or name in d.get("filters", {}):
                raise ValueError(
                    f"column {name!r} is referenced by a pending "
                    "merge-on-read delete; compact() to materialize the "
                    "delete, then drop"
                )
        files = sorted(rel for rel, _ in self.files(snap))
        extra = {
            "retired": list(snap.get("retired") or [])
            + [{"name": name, "files": files}],
        }
        if any(d["name"] == name for d in snap.get("defaults") or []):
            kept = [d for d in snap["defaults"] if d["name"] != name]
            if kept:
                extra["defaults"] = kept
            else:
                # _commit_schema copies the snapshot dict: an exhausted
                # key must be removed, not just left unset in `extra`
                extra["defaults"] = []
        return self._commit_schema(
            snap,
            StructType([f for f in schema.fields if f.name != name]),
            extra,
        )

    def widen_column(self, name: str, new_type: str) -> int:
        """Widen a column's type in place (int->bigint, float->double,
        ... — the SPARK-40876 set): pure metadata, no scope lists — the
        parquet reader upcasts each file's narrower physical type to
        the pinned wider one natively, and manifest stats stay
        comparable. A bucket-transform source may widen only within the
        integral family (the str() forms the driver-side pruning hashes
        agree across integral widths, not across int->double)."""
        from pyspark.sql.types import StructType

        snap = self.snapshot()
        schema = StructType.fromJson(json.loads(snap["schema"]))
        by_name = {f.name: f for f in schema.fields}
        if name not in by_name:
            raise ValueError(
                f"no column {name!r} to widen; have {list(by_name)}"
            )
        cur = by_name[name].dataType.simpleString()
        allowed = self._WIDENINGS.get(cur, set())
        if new_type not in allowed:
            raise ValueError(
                f"cannot widen {name!r} from {cur} to {new_type}; "
                f"supported: {sorted(allowed) or 'none'}"
            )
        if new_type == "double":
            from .transforms import parse_partition_specs

            for t in parse_partition_specs(self.partition_specs(snap) or []):
                if t.source == name and not t.is_identity:
                    raise ValueError(
                        f"column {name!r} feeds the {t.spec!r} partition "
                        "transform; widening to double would break the "
                        "str()-agreement its pruning relies on"
                    )
        by_name[name].dataType = _simple_type(new_type)
        return self._commit_schema(snap, StructType(schema.fields), {})

    # -- tags (immutable named snapshots) ------------------------------------
    def tag(self, name: str, version: int | None = None) -> int:
        """Pin a snapshot under an immutable name — "the corpus release
        2026-08" — readable forever via ``read(version=tag_version(n))``
        and PROTECTED from ``expire_snapshots``. Write-once: the tag
        file is committed with the same fail-if-exists publish as a
        snapshot, so two racers cannot tag the same name differently.
        Returns the pinned version. (Iceberg's tag refs; branches are
        deliberately out of scope — every mutation here is a linear
        commit on main.)"""
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"bad tag name {name!r}")
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed snapshot under {self.root}")
        self.snapshot(v)  # must exist (and not be expired)
        dest = f"{self._meta_dir()}/tag_{name}.json"
        if not self._publish(dest, json.dumps({"version": v})):
            raise ValueError(
                f"tag {name!r} already exists on {self.root} "
                f"(tags are immutable; points at v{self.tag_version(name)})"
            )
        return v

    def tag_version(self, name: str) -> int:
        p = f"{self._meta_dir()}/tag_{name}.json"
        if not self._fs.exists(self._Path(p)):
            raise FileNotFoundError(f"no tag {name!r} on {self.root}")
        return int(json.loads(self._read_text(p))["version"])

    def tags(self) -> dict[str, int]:
        """Every tag name -> pinned version."""
        meta = self._Path(self._meta_dir())
        out: dict[str, int] = {}
        if not self._fs.exists(meta):
            return out
        for st in self._fs.listStatus(meta):
            n = st.getPath().getName()
            if n.startswith("tag_") and n.endswith(".json"):
                out[n[4:-5]] = int(
                    json.loads(self._read_text(f"{self._meta_dir()}/{n}"))[
                        "version"
                    ]
                )
        return out

    def drop_tag(self, name: str) -> None:
        """Remove a tag (the only sanctioned mutation: untag). The
        pinned snapshot becomes expirable again."""
        p = self._Path(f"{self._meta_dir()}/tag_{name}.json")
        if not self._fs.delete(p, False):
            raise FileNotFoundError(f"no tag {name!r} on {self.root}")

    # -- branches (writable refs + fast-forward publish) ---------------------
    # Iceberg branch semantics on the same CAS: a branch is a PARALLEL
    # version chain (records at meta/b_<name>_v<K>.json, K continuing
    # from the main version at creation), so branch commits and main
    # commits can never collide. The multi-COMMIT write-audit-publish
    # shape: stage several appends/deletes on a branch, validate the
    # branch head, then fast_forward() replays the records into main's
    # slots — or drop_branch() discards them (vacuum reclaims).

    def _branch_marker(self, name: str) -> str:
        return f"{self._meta_dir()}/branch_{name}.json"

    def create_branch(self, name: str, version: int | None = None) -> int:
        """Create branch ``name`` at snapshot ``version`` (default
        current). Same write-once CAS as tags: two racers cannot create
        the same branch differently. Returns the base version."""
        import re as _re

        if not _re.fullmatch(r"[A-Za-z0-9_\-]{1,64}", name):
            raise ValueError(f"bad branch name {name!r}")
        base = self.current_version() if version is None else version
        if base is None:
            raise ValueError("cannot branch an empty table")
        self.snapshot(base)  # must exist (expired/never-committed raises)
        marker = json.dumps({"name": name, "base": base})
        if not self._publish(self._branch_marker(name), marker):
            raise ValueError(f"branch {name!r} already exists on {self.root}")
        return base

    def branch(self, name: str) -> "SnapshotTable":
        """A writable handle whose commits land on the branch chain.
        Everything works — append/read/scan/time-travel/DDL/row ops/
        incremental_read — except table MAINTENANCE (tag/expire/vacuum/
        nested branching), which stays on main."""
        p = self._branch_marker(name)
        if not self._fs.exists(self._Path(p)):
            raise FileNotFoundError(f"no branch {name!r} on {self.root}")
        base = json.loads(self._read_text(p))["base"]
        return _BranchView(self, name, base)

    def branches(self) -> dict[str, dict]:
        """Every branch name -> {"base": v, "head": v} (head == base
        before the first branch commit)."""
        meta = self._Path(self._meta_dir())
        out: dict[str, dict] = {}
        if not self._fs.exists(meta):
            return out
        for st in self._fs.listStatus(meta):
            n = st.getPath().getName()
            if n.startswith("branch_") and n.endswith(".json"):
                info = json.loads(self._read_text(f"{self._meta_dir()}/{n}"))
                out[info["name"]] = {
                    "base": info["base"],
                    "head": self.branch(info["name"]).current_version(),
                }
        return out

    def fast_forward(self, name: str) -> int:
        """Publish a branch: replay its records into main's version
        slots, in order, via the same fail-if-exists CAS as every
        commit. Requires main's head to still be the branch base (plus
        any prefix THIS fast-forward already landed — the operation is
        idempotent and crash-resumable: a slot already holding the
        byte-identical record is skipped). A foreign record in any
        needed slot raises CommitConflict and leaves the branch intact
        — fast-forward never rebases. On success the branch is consumed
        (marker + branch records removed). Returns main's new head."""
        bv = self.branch(name)
        base, head = bv._base, bv.current_version()
        if head == base:
            raise ValueError(f"branch {name!r} has no commits to publish")
        for k in range(base + 1, head + 1):
            rec = self._read_text(bv._vpath(k))
            main_p = self._Path(self._vpath(k))
            if self._fs.exists(main_p):
                if self._read_text(self._vpath(k)) == rec:
                    continue  # already landed (crash-resume / replay)
                raise CommitConflict(
                    f"main advanced past v{base} on {self.root}; "
                    f"fast-forward of branch {name!r} would overwrite "
                    f"v{k} — drop or re-create the branch from the new "
                    "head"
                )
            if not self._try_commit(k, json.loads(rec)):
                raise CommitConflict(
                    f"lost the v{k} slot race publishing branch "
                    f"{name!r}; rerun fast_forward to resume"
                )
        self.drop_branch(name)
        return head

    def drop_branch(self, name: str) -> None:
        """Discard a branch: its marker and records are removed; data/
        manifest files referenced only by branch commits become orphans
        for the next vacuum()."""
        bv = self.branch(name)
        for k in range(bv._base + 1, (bv.current_version() or bv._base) + 1):
            self._fs.delete(self._Path(bv._vpath(k)), False)
        if not self._fs.delete(self._Path(self._branch_marker(name)), False):
            raise FileNotFoundError(f"no branch {name!r} on {self.root}")

    # -- metadata inspection tables ----------------------------------------
    def snapshots_df(self) -> DataFrame:
        """One row per retained snapshot — Iceberg's ``snapshots``
        metadata table: version, parent, operation, file/byte totals
        and the recorded partition spec, all from metadata (zero data
        reads). Expired versions are simply absent."""
        cur = self.current_version()
        rows = []
        for k in range((cur + 1) if cur is not None else 0):
            p = self._vpath(k)
            if not self._fs.exists(self._Path(p)):
                continue
            snap = json.loads(self._read_text(p))
            entries = self.files(snap)
            file_rows = self.file_rows(snap)
            counted = [file_rows[rel] for rel, _ in entries if rel in file_rows]
            exact = len(counted) == len(entries) and not snap.get("deletes")
            rows.append(
                (
                    snap["version"],
                    snap.get("parent"),
                    snap.get("operation"),
                    len(snap["manifests"]),
                    len(entries),
                    sum(int(s) for _, s in entries),
                    sum(counted) if exact else None,
                    list(snap.get("partition_spec") or []),
                    snap.get("committed_at"),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version int, parent int, operation string, n_manifests int, "
            "n_files int, total_bytes long, total_rows long, "
            "partition_spec array<string>, committed_at double",
        )

    def refs_df(self) -> DataFrame:
        """One row per named ref — Iceberg's ``refs`` metadata table:
        tags (immutable, pinned version) and branches (writable, base +
        head), plus main itself. Zero data reads."""
        rows = [("main", "branch", None, self.current_version())]
        for name, v in sorted(self.tags().items()):
            rows.append((name, "tag", v, v))
        for name, info in sorted(self.branches().items()):
            rows.append((name, "branch", info["base"], info["head"]))
        return self.spark.createDataFrame(
            rows, "name string, type string, base int, head int"
        )

    def files_df(self, version: int | None = None) -> DataFrame:
        """One row per live data file of a snapshot — Iceberg's
        ``files`` metadata table: path, bytes, recorded row count, the
        hive partition values parsed off the path, and the manifest
        column bounds (as a JSON string; None when the file predates
        stats). Metadata-only; driver work is O(files), the same bound
        as every manifest resolution in this class."""
        snap = self.snapshot(version)
        stats = self.file_stats(snap)
        rows_map = self.file_rows(snap)
        out = []
        for rel, size in self.files(snap):
            parts = {
                seg.split("=", 1)[0]: seg.split("=", 1)[1]
                for seg in rel.split("/")[:-1]
                if "=" in seg
            }
            bounds = stats.get(rel)
            out.append(
                (
                    rel,
                    int(size),
                    rows_map.get(rel),
                    parts,
                    json.dumps(bounds, sort_keys=True) if bounds else None,
                )
            )
        return self.spark.createDataFrame(
            out,
            "path string, bytes long, rows long, "
            "partition map<string,string>, bounds string",
        )

    def partitions_df(self, version: int | None = None) -> DataFrame:
        """Per-partition-value census — Iceberg's ``partitions``
        metadata table: n_files, total bytes and (when every file
        recorded one) total rows per hive directory value. The
        skew/size question every 100-TB operator asks first, answered
        without opening a single data file."""
        snap = self.snapshot(version)
        # pending merge-on-read deletes make per-file counts overcount
        rows_map = {} if snap.get("deletes") else self.file_rows(snap)
        agg: dict[tuple, list] = {}
        for rel, size in self.files(snap):
            key = tuple(
                seg for seg in rel.split("/")[:-1] if "=" in seg
            )
            a = agg.setdefault(key, [0, 0, 0, 0])  # files, bytes, rows, counted
            a[0] += 1
            a[1] += int(size)
            if rel in rows_map:
                a[2] += rows_map[rel]
                a[3] += 1
        out = [
            (
                dict(seg.split("=", 1) for seg in key) if key else {},
                a[0],
                a[1],
                a[2] if a[3] == a[0] else None,
            )
            for key, a in agg.items()
        ]
        return self.spark.createDataFrame(
            out,
            "partition map<string,string>, n_files int, "
            "total_bytes long, total_rows long",
        )

    # -- lineage / maintenance -------------------------------------------
    def input_fingerprints(self, part_col: str, version: int | None = None) -> dict[int, str]:
        """Per-partition input fingerprints from the snapshot's OWN file
        list — sha1 over sorted (relative path, size) per part, the same
        recipe as manifest.input_fingerprints but with ZERO filesystem
        round-trips. Feed to manifest.completed_parts for resume."""
        snap = self.snapshot(version)
        by_part: dict[int, list] = {}
        needle = f"{part_col}="
        for rel, size in self.files(snap):
            part = None
            for seg in rel.split("/"):
                if seg.startswith(needle):
                    value = seg.split("=", 1)[1]
                    if value == "__HIVE_DEFAULT_PARTITION__":
                        part = -1
                    else:
                        try:
                            part = int(value)
                        except ValueError:
                            part = None
                    break
            if part is None:
                continue
            by_part.setdefault(part, []).append([rel.split(needle, 1)[1], int(size)])
        return {
            part: hashlib.sha1(json.dumps(sorted(entries)).encode()).hexdigest()[:16]
            for part, entries in by_part.items()
        }

    def _live(self) -> tuple[set[str], set[str]]:
        """(live data rel-paths, live manifest names) across every
        committed snapshot — INCLUDING branch records: an active
        branch's commits are committed state, so vacuum must never
        reclaim the files only they reference."""
        live: set[str] = set()
        live_manifests: set[str] = set()

        def take(path: str) -> None:
            if self._fs.exists(self._Path(path)):
                snap = json.loads(self._read_text(path))
                live_manifests.update(snap["manifests"])
                live.update(rel for rel, _ in self.files(snap))

        v = self.current_version()
        if v is not None:
            for k in range(v + 1):
                take(self._vpath(k))
        for name, info in self.branches().items():
            bv = self.branch(name)
            for k in range(info["base"] + 1, info["head"] + 1):
                take(bv._vpath(k))
        return live, live_manifests

    def orphan_files(self) -> list[str]:
        """Data files (and manifest files, prefixed ``meta/``) that no
        committed snapshot references — crashed or lost commits. Safe to
        delete via vacuum(), which must not run concurrently with
        writers (an in-flight commit's manifest is not referenced YET —
        the same caveat as Iceberg's own orphan-file cleanup)."""
        live, live_manifests = self._live()
        out = []
        data = self._Path(self._data_dir())
        if self._fs.exists(data):
            it = self._fs.listFiles(data, True)
            while it.hasNext():
                f = it.next()
                name = f.getPath().getName()
                if name.startswith("_") or name.startswith("."):
                    continue
                rel = f.getPath().toString().split(f"{self.root}/", 1)[1]
                if "/_scratch_" in f"/{rel}":
                    continue  # an in-flight writer's scratch dir, not ours
                if rel not in live:
                    out.append(rel)
        meta = self._Path(self._meta_dir())
        if self._fs.exists(meta):
            for st in self._fs.listStatus(meta):
                name = st.getPath().getName()
                if name.startswith("m_") and name not in live_manifests:
                    out.append(f"meta/{name}")
        return out

    def compact(
        self,
        target_file_bytes: int = 512 * 1024 * 1024,
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> int | None:
        """Rewrite the current snapshot's rows into ~size-targeted files
        and commit the result as a new ``compact`` snapshot — content
        identical, file list replaced. The continuous-crawl maintenance
        op: frequent small increments leave footer-sized files that cost
        one open/seek each at scan time; compaction restores large
        sequential reads without blocking readers (it is one more
        snapshot commit). Time travel to pre-compaction versions keeps
        working — their manifests still reference the old files;
        ``expire_snapshots()`` + ``vacuum()`` reclaims them.

        Unlike append, compaction must NOT retry past a concurrent
        commit: its output was derived from the base snapshot, so
        retrying at N+1 would silently drop whatever the interleaved
        commit added (Iceberg's rewrite validation makes the same
        choice). A lost race raises CommitConflict; the already-written
        compacted files become orphans for the next vacuum, and the
        caller reruns against the new current snapshot.

        ``sort_by`` selects SORT compaction: rows are range-partitioned
        and sorted within files on those columns, so the rewritten files
        carry disjoint manifest bounds and ``scan()`` keeps pruning
        effectively after the rewrite (plain compaction merges ranges,
        which widens per-file bounds).

        ``zorder_by`` selects Z-ORDER compaction (``sources/zorder.py``):
        rows are clustered on the Morton curve over several columns, so
        every clustered column keeps a tight per-file [min, max] in the
        manifest and ``scan()`` prunes on ANY of them — the layout for
        tables with more than one independent read axis (``sort_by``
        still wins when there is exactly one).

        Returns the new version, or None when the current file count
        already meets the byte target (no-op, nothing written; with
        ``sort_by``/``zorder_by`` the rewrite always happens — the file
        count cannot witness ordering)."""
        if sort_by and zorder_by:
            raise ValueError("sort_by and zorder_by are mutually exclusive")
        snap = self.snapshot()
        if partition_by is None and sort_by is None and zorder_by is None:
            # inherit the table's partition spec (transforms included):
            # compact rewrites the FULL file list, so this keeps the
            # layout stable by default (explicit partition_by, and
            # sort_by's flat range-sorted rewrite, are the sanctioned
            # ways to CHANGE layout — a whole-table rewrite cannot mix
            # layouts either way)
            partition_by = self.partition_specs(snap)
        files = self.files(snap)
        total = sum(int(s) for _, s in files)
        n_target = max(1, -(-total // target_file_bytes))
        floor_files = 1
        if partition_by and self._spec_hive_names(
            partition_by
        ) == self._layout_partition_cols(snap):
            # a hive-partitioned rewrite cannot go below one file per
            # leaf directory, so the no-op floor is the dir count — else
            # a compacted partitioned table re-compacts forever
            floor_files = len({rel.rsplit("/", 1)[0] for rel, _ in files})
        if (
            len(files) <= max(n_target, floor_files)
            and not sort_by
            and not zorder_by
            and not snap.get("deletes")
            and not snap.get("renames")
            and not snap.get("retired")
        ):
            # sort_by/zorder_by always rewrite: the point is the file
            # ORDER, which the file count cannot witness — and pending
            # merge-on-read deletes, rename scopes, and retired-name
            # guards always rewrite too: compaction is what MATERIALIZES
            # them (read() below applies the filters and resolves the
            # physical names; the compact snapshot carries none, which
            # also releases retired names for reuse)
            return None
        df = self.read(snap["version"])
        if zorder_by:
            # z-order compaction: cluster on the Morton curve so EVERY
            # listed column keeps tight per-file bounds in the manifest
            from .zorder import zordered

            df = zordered(df, zorder_by, n_ranges=n_target)
        elif sort_by:
            # sort compaction: range-partition + sort within files so the
            # rewritten files carry DISJOINT [min,max] bounds on sort_by —
            # scan() pruning then touches ~1 file per point/range lookup
            # instead of degrading to one giant unboundable file
            df = df.repartitionByRange(n_target, *sort_by).sortWithinPartitions(
                *sort_by
            )
        elif partition_by:
            # co-locate hive partition values so each output task writes
            # whole files per value it owns (transform entries cluster
            # on the DERIVED expression, matching the directory keys)
            from .transforms import parse_partition_specs

            dtypes = dict(df.dtypes)
            df = df.repartition(
                n_target,
                *[
                    t.expr(dtypes.get(t.source, "string"))
                    for t in parse_partition_specs(partition_by)
                ],
            )
        else:
            df = df.repartition(n_target)
        compacted_files = self._write_data_files(df, partition_by, cluster=False)
        new_manifest = self._write_manifest(
            compacted_files, *self._collect_stats(compacted_files)
        )
        base = snap["version"]
        new_snap = {
            "version": base + 1,
            "parent": base,
            "operation": "compact",
            "schema": snap["schema"],
            "schema_fields": snap["schema_fields"],
            "manifests": [new_manifest],
            "partition_spec": self._canonical_specs(partition_by),
            "layouts": sorted(map(list, self._layouts_of(compacted_files))),
        }
        if snap.get("stream_state"):
            new_snap["stream_state"] = snap["stream_state"]
        blooms = self._resolved_blooms()
        if blooms:
            new_snap["bloom_columns"] = blooms
        if not self._try_commit(base + 1, new_snap):
            raise CommitConflict(
                f"table {self.root} advanced past v{base} during "
                "compaction; vacuum will reclaim the attempt's files — "
                "rerun compact() against the new current snapshot"
            )
        return base + 1

    def expire_snapshots(
        self, keep_last: int = 1, older_than_s: float | None = None
    ) -> int:
        """Drop the snapshot records of all but the newest ``keep_last``
        versions (the current snapshot is always kept). Data and
        manifest files referenced ONLY by expired snapshots become
        orphans that the next ``vacuum()`` reclaims — the Iceberg
        expire-snapshots contract: history shrinks, the live snapshot is
        untouched, and storage is reclaimed in a separate, crash-safe
        step. Time travel to an expired version raises FileNotFoundError
        (identical to a never-committed slot). TAGGED versions are never
        expired — a tag is precisely the promise that its snapshot stays
        readable (drop the tag to release it).

        ``older_than_s`` (the Iceberg retention-age axis) additionally
        requires a record to be at least that many seconds old (by its
        ``committed_at`` stamp) before it expires: the standing policy
        "keep a week of time travel" is ``older_than_s=7*86400`` with a
        large keep_last. A record WITHOUT a stamp (pre-timestamp table)
        never expires by age — conservative, only by count. Returns the
        number of snapshot records removed."""
        import time as _time

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        cur = self.current_version()
        if cur is None:
            return 0
        pinned = set(self.tags().values())
        # a branch's BASE record is its head until the first branch
        # commit, and the parent every branch commit chains from — an
        # active branch pins it the way a tag pins its version
        pinned.update(info["base"] for info in self.branches().values())
        cutoff = None if older_than_s is None else _time.time() - older_than_s
        removed = 0
        for k in range(cur - keep_last + 1):
            if k in pinned:
                continue
            p = self._vpath(k)
            if not self._fs.exists(self._Path(p)):
                continue
            if cutoff is not None:
                stamp = json.loads(self._read_text(p)).get("committed_at")
                if stamp is None or stamp >= cutoff:
                    continue  # too young (or unstamped): keep
            self._fs.delete(self._Path(p), False)
            removed += 1
        return removed

    def vacuum(self) -> int:
        """Delete orphan data + manifest files; returns how many were
        removed. Never touches anything a committed snapshot references,
        so time travel to every version keeps working."""
        orphans = self.orphan_files()
        for rel in orphans:
            self._fs.delete(self._Path(f"{self.root}/{rel}"), False)
        return len(orphans)


class _BranchView(SnapshotTable):
    """A SnapshotTable whose version chain is a BRANCH: versions at or
    below the base resolve to main's records (shared history); later
    versions live at ``meta/b_<name>_v<K>.json``, committed with the
    same fail-if-exists CAS — so branch and main writers can never
    collide, and every inherited operation (append, read, scan, time
    travel, schema DDL, row-level ops, incremental_read, streaming
    markers) works unchanged against the branch chain. Maintenance
    (tags, expiry, vacuum, branching) stays on main: those operations
    reason about the whole tree, not one ref."""

    def __init__(self, parent: SnapshotTable, name: str, base: int):
        super().__init__(parent.spark, parent.root, parent._bloom_columns)
        self._branch = name
        self._base = base

    def _vpath(self, version: int) -> str:
        if version <= self._base:
            return f"{self._meta_dir()}/v{version}.json"
        return f"{self._meta_dir()}/b_{self._branch}_v{version}.json"

    def current_version(self) -> int | None:
        meta = self._Path(self._meta_dir())
        best = self._base
        prefix = f"b_{self._branch}_v"
        for st in self._fs.listStatus(meta):
            n = st.getPath().getName()
            if n.startswith(prefix) and n.endswith(".json"):
                try:
                    k = int(n[len(prefix):-5])
                except ValueError:
                    continue
                best = k if k > best else best
        return best

    def _blocked(self, op: str):
        raise ValueError(
            f"{op} is a main-table operation; run it on the table, not "
            f"branch {self._branch!r}"
        )

    def tag(self, *a, **k):  # noqa: D102
        self._blocked("tag")

    def drop_tag(self, *a, **k):  # noqa: D102
        self._blocked("drop_tag")

    def expire_snapshots(self, *a, **k):  # noqa: D102
        self._blocked("expire_snapshots")

    def vacuum(self, *a, **k):  # noqa: D102
        self._blocked("vacuum")

    def orphan_files(self, *a, **k):  # noqa: D102
        self._blocked("orphan_files")

    def create_branch(self, *a, **k):  # noqa: D102
        self._blocked("create_branch")

    def branch(self, *a, **k):  # noqa: D102
        self._blocked("branch")

    def fast_forward(self, *a, **k):  # noqa: D102
        self._blocked("fast_forward")

    def drop_branch(self, *a, **k):  # noqa: D102
        self._blocked("drop_branch")
