"""Snapshot commit log — Iceberg-analog table format over plain parquet.

The production design commits extraction output to Iceberg
(``df.writeTo("cat.db.extracted")``, SURVEY.md §2.1/§4.1), whose real
value at 100 TB is not the file format but the METADATA protocol:

* **atomic commits** — a snapshot becomes visible in one metadata
  operation, never as a half-written directory;
* **snapshot isolation** — a reader plans against an immutable file
  list, so a concurrent commit can never add/remove files mid-job;
* **time travel / rollback** — every commit is retained and addressable;
* **optimistic concurrency** — two writers race on the metadata pointer,
  not on data files; the loser rebases (append) or aborts (overwrite);
* **scan pruning from file stats** — per-file min/max lets the planner
  drop whole files before the scan starts (Iceberg manifest pruning).

This sandbox has no Iceberg runtime jar (SURVEY.md §6), so this module
implements that protocol over a directory of immutable parquet files and
JSON manifests — the same emulation strategy SURVEY.md §7 hard-point 3
prescribes for resume semantics.  The reference has no table format at
all (its "sink" is one JSON response per image, api/main.py:320-322,
plus per-run artifact dirs, ttocr/utils/loggers.py:141-182); this is
axis-B surface the Spark re-design needs and the reference never did.

Layout of a snapshot table at ``root``::

    root/data/<uuid>.parquet        -- immutable, write-once data files
    root/_meta/snap-%08d.json       -- one manifest per snapshot (the log)
    root/_staging/...               -- Spark write area, renamed into data/

A manifest lists the snapshot's live files with row counts and per-column
min/max harvested from the parquet FOOTERS at commit time (metadata-only
read — no data pass).  The current table state is simply the
highest-numbered manifest; a crashed writer leaves only ``*.tmp`` files,
which readers ignore, so there is no window in which a reader can observe
a partial commit.

Atomicity without a rename-overwrite race: the manifest is staged as a
tmp file and published with ``os.link`` (hard link), which — unlike
``os.rename`` — FAILS with EEXIST if the sequence number is already
taken.  That failure IS the optimistic-concurrency signal: an appending
writer rebases its new files onto the manifest that beat it and retries;
an overwriting writer aborts with ``CommitConflict`` (its base changed
under it — Iceberg's validate-from-snapshot behaviour).

Scale notes (100 TB design review):

* Manifests are O(files), not O(rows): at 512 MB target file size,
  100 TB ≈ 200k entries ≈ a few MB of JSON — driver-trivial.  Real
  Iceberg splits this into avro manifest *files* plus a manifest *list*
  for O(1) partial rewrites; the single-JSON analog keeps the same read
  semantics and is the documented simplification.
* A commit is one footer scan of the NEW files plus one metadata link —
  cost independent of table size.
* Reads hand Spark an explicit immutable file list; pushdown, column
  pruning and whole-stage codegen are unaffected (same parquet scan
  node), while ``prune=`` drops whole files driver-side first — the
  min/max cut that makes a ``ts``-range query touch 1/1000th of the
  files before any task launches.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass
from typing import Any, Dict, List, Optional, Tuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from table_ocr_spark.session import local_frame, persist

_SNAP_FMT = "snap-%08d.json"
_SNAP_PREFIX = "snap-"


class CommitConflict(RuntimeError):
    """Another writer committed onto the same parent snapshot first."""


def _merge_stream_watermarks(base: dict, ours: dict) -> dict:
    """Combine the exactly-once streaming watermark keys from the BASE
    manifest summary and the caller's summary via per-stream max.

    Replace-not-merge was a race: a streaming sink computes its
    ``stream_epochs`` dict from a pre-commit read, so when its append
    loses the link race to a concurrent stream and rebases, the caller's
    (stale) dict would erase the winner's just-committed epoch — a later
    crash-replay of that stream then passes the ``last_stream_epoch``
    check and double-commits.  Taking the per-stream max of both sides
    is safe in every case: epochs only move forward within a stream.
    """
    out: dict = {}
    b_per = base.get("stream_epochs")
    o_per = ours.get("stream_epochs")
    b_per = b_per if isinstance(b_per, dict) else {}
    o_per = o_per if isinstance(o_per, dict) else {}
    if b_per or o_per:
        per = {k: int(v) for k, v in b_per.items()}
        for k, v in o_per.items():
            per[k] = max(int(v), per.get(k, -1))
        out["stream_epochs"] = per
    vals = [
        int(v)
        for v in (base.get("stream_max_epoch"), ours.get("stream_max_epoch"))
        if v is not None
    ]
    if vals:
        out["stream_max_epoch"] = max(vals)
    return out


@dataclass
class FileEntry:
    path: str  # relative to root
    rows: int
    bytes: int
    stats: Dict[str, List[Any]]  # col -> [min, max], JSON-safe scalars

    def to_json(self) -> dict:
        return {"path": self.path, "rows": self.rows, "bytes": self.bytes, "stats": self.stats}

    @staticmethod
    def from_json(d: dict) -> "FileEntry":
        return FileEntry(d["path"], d["rows"], d["bytes"], d.get("stats", {}))


def _json_safe(v):
    """Footer stat -> JSON-storable scalar with order-preserving encoding.

    Bytes that are not valid UTF-8 return None (stat unusable): hex would
    sort differently from the raw bytes AND differently from a sibling
    file whose value happened to decode — two incomparable encodings in
    one column make pruning unsound, so the stat is dropped instead."""
    import datetime

    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()  # ISO-8601 sorts like the timestamp it encodes
    if isinstance(v, float) or isinstance(v, int) or isinstance(v, str) or v is None:
        return v
    return str(v)


def _footer_stats(abs_path: str) -> Tuple[int, Dict[str, List[Any]]]:
    """(row_count, {col: [min, max]}) from parquet footer metadata only."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    mins: Dict[str, Any] = {}
    maxs: Dict[str, Any] = {}
    nulls: Dict[str, Any] = {}  # total null count, or None when unknown
    dropped: set = set()  # any stat-less row group poisons the column
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name or name in dropped:  # nested leaves: top-level only
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                dropped.add(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                nulls.pop(name, None)
                continue
            nc = st.null_count if st.has_null_count else None
            if name not in mins:
                mins[name], maxs[name], nulls[name] = st.min, st.max, nc
            else:
                mins[name] = min(mins[name], st.min)
                maxs[name] = max(maxs[name], st.max)
                nulls[name] = (
                    None if (nc is None or nulls[name] is None) else nulls[name] + nc
                )
    stats = {}
    for k in mins:
        lo, hi = _json_safe(mins[k]), _json_safe(maxs[k])
        if (mins[k] is not None and lo is None) or (maxs[k] is not None and hi is None):
            continue  # un-encodable (non-UTF-8 binary) — no stats, no pruning
        # third element = null count (None = unknown): min/max describe
        # only NON-NULL values, so "range fully covers the file" is NOT
        # "every row matches" unless the file provably has zero nulls
        stats[k] = [lo, hi, nulls[k]]
    return md.num_rows, stats


class SnapshotTable:
    """Handle on a snapshot-log table rooted at ``root``."""

    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.meta_dir = os.path.join(root, "_meta")
        self.staging_dir = os.path.join(root, "_staging")

    # ---------------------------------------------------------------- metadata

    def _snap_path(self, seq: int) -> str:
        return os.path.join(self.meta_dir, _SNAP_FMT % seq)

    def current_seq(self) -> Optional[int]:
        """Highest published snapshot number (None for an empty table)."""
        if not os.path.isdir(self.meta_dir):
            return None
        seqs = [
            int(f[len(_SNAP_PREFIX) : -5])
            for f in os.listdir(self.meta_dir)
            if f.startswith(_SNAP_PREFIX) and f.endswith(".json")
        ]
        return max(seqs) if seqs else None

    def manifest(self, seq: Optional[int] = None) -> dict:
        seq = self.current_seq() if seq is None else seq
        if seq is None:
            raise ValueError(f"snapshot table at {self.root} has no snapshots")
        p = self._snap_path(seq)
        if not os.path.exists(p):
            raise ValueError(
                f"snapshot {seq} not found at {self.root} (expired or never committed)"
            )
        with open(p) as f:
            return json.load(f)

    def history(self) -> List[dict]:
        """Commit log, oldest first: seq/operation/summary/file+row counts.

        Parses EVERY manifest — O(total history bytes); an audit/debug
        surface.  Hot paths that scan newest-first and stop at the first
        match (resume markers, index coverage, the concurrent-increment
        guard) must use ``iter_history_newest_first`` instead: at the
        200k-file design point each manifest is ~38 MB of JSON
        (BENCH/SNAPSHOT_SCALE.md), so a full walk per incremental run
        grows linearly with table age while the lazy walk stays O(1-2
        manifests) in steady state."""
        return list(reversed(list(self.iter_history_newest_first())))

    def iter_history_newest_first(self):
        """Lazy commit-log walk, newest first; expired seqs skipped.
        Yields the same dict shape as ``history()`` rows, parsing one
        manifest per step — early-breaking consumers touch only the
        manifests they actually inspect."""
        cur = self.current_seq()
        if cur is None:
            return
        for seq in range(cur, 0, -1):
            try:
                m = self.manifest(seq)
            except ValueError:
                continue  # expired
            yield {
                "seq": m["seq"],
                "parent_seq": m["parent_seq"],
                "operation": m["operation"],
                "summary": m.get("summary", {}),
                "n_files": len(m["files"]),
                "rows": sum(f["rows"] for f in m["files"]),
            }

    # ----------------------------------------------------------------- commit

    def _publish(self, manifest: dict, seq: int) -> None:
        """Atomically publish manifest as snapshot ``seq`` (EEXIST -> conflict)."""
        os.makedirs(self.meta_dir, exist_ok=True)
        tmp = os.path.join(self.meta_dir, f".{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, separators=(",", ":"))
        try:
            # hard-link publish: atomic AND exclusive (rename would silently
            # overwrite a racing writer's manifest)
            os.link(tmp, self._snap_path(seq))
        except FileExistsError:
            raise CommitConflict(
                f"snapshot {seq} already committed at {self.root}"
            )
        finally:
            os.unlink(tmp)

    def commit(
        self,
        files: List[FileEntry],
        operation: str,
        summary: Optional[dict] = None,
        schema_json: Optional[str] = None,
        expected_parent: Optional[int] = None,
    ) -> int:
        """Publish a snapshot whose live set is exactly ``files``.

        ``expected_parent`` pins the base snapshot (Iceberg's
        validateFromSnapshot): if the table moved past it, raise
        ``CommitConflict`` without publishing.
        """
        cur = self.current_seq()
        if expected_parent is not None and cur != expected_parent:
            raise CommitConflict(
                f"base snapshot moved: expected parent {expected_parent}, table is at {cur}"
            )
        if schema_json is None and cur is not None:
            schema_json = self.manifest(cur).get("schema")
        manifest = {
            "seq": (cur or 0) + 1,
            "snapshot_id": uuid.uuid4().hex,
            "parent_seq": cur,
            "operation": operation,
            "summary": summary or {},
            "schema": schema_json,
            "files": [f.to_json() for f in files],
        }
        self._publish(manifest, manifest["seq"])
        return manifest["seq"]

    # ------------------------------------------------------------------ write

    def _stage_df(self, df: DataFrame) -> Tuple[List[FileEntry], str]:
        """Write ``df`` via Spark into staging, move parts into data/ as
        immutable uuid-named files, harvest footer stats.

        The Spark write is a normal distributed parquet job (any
        parallelism, any size); only the per-file rename + footer read is
        driver-side — O(files), not O(rows)."""
        os.makedirs(self.data_dir, exist_ok=True)
        stage = os.path.join(self.staging_dir, uuid.uuid4().hex)
        df.write.mode("overwrite").parquet(stage)
        entries: List[FileEntry] = []
        for name in sorted(os.listdir(stage)):
            if not name.endswith(".parquet"):
                continue
            final = f"{uuid.uuid4().hex}.parquet"
            abs_final = os.path.join(self.data_dir, final)
            os.rename(os.path.join(stage, name), abs_final)
            rows, stats = _footer_stats(abs_final)
            entries.append(
                FileEntry(
                    path=os.path.join("data", final),
                    rows=rows,
                    bytes=os.path.getsize(abs_final),
                    stats=stats,
                )
            )
        shutil.rmtree(stage, ignore_errors=True)
        return entries, df.schema.json()

    def _conform(self, df: DataFrame, schema_json: Optional[str]) -> DataFrame:
        """Align ``df`` to the table schema: columns the evolved schema
        added but ``df`` lacks become typed NULLs (the add-column
        contract), order follows the table, unknown or type-mismatched
        columns raise (widen via ``add_columns`` first — a silent write
        would regress the schema for every later reader)."""
        from pyspark.sql import functions as F

        if not schema_json:
            return df
        schema = T.StructType.fromJson(json.loads(schema_json))
        table_fields = {f.name: f for f in schema.fields}
        extra = [c for c in df.columns if c not in table_fields]
        if extra:
            raise ValueError(
                f"columns {extra} not in table schema — evolve with add_columns first"
            )
        df_fields = {f.name: f for f in df.schema.fields}
        out = []
        for f in schema.fields:
            got = df_fields.get(f.name)
            if got is None:
                out.append(F.lit(None).cast(f.dataType).alias(f.name))
            elif got.dataType != f.dataType:
                raise ValueError(
                    f"column {f.name!r}: df type {got.dataType.simpleString()} != "
                    f"table type {f.dataType.simpleString()}"
                )
            else:
                out.append(F.col(f.name))
        return df.select(*out)

    def append(
        self,
        df: DataFrame,
        summary: Optional[dict] = None,
        max_retries: int = 5,
        summary_fn=None,
        validate_fn=None,
    ) -> int:
        """Append ``df`` as a new snapshot; rebase-and-retry on conflict.

        Data files are written ONCE; only the metadata commit retries —
        the optimistic-concurrency fast path (losing a race costs a
        manifest re-read, never a data rewrite).

        ``summary_fn``: called once AFTER the data files are staged (i.e.
        after the Spark write action ran) and merged into ``summary`` —
        the hook that lets ``observe()`` metrics from the write pass land
        inside the commit manifest itself (metrics alongside the commit,
        the north-rule lineage shape).

        ``validate_fn``: semantic conflict check, re-run on EVERY retry
        against the table's then-current state.  A blind rebase is
        correct only when concurrent commits are independent; when they
        are not (two incremental curate runs landing the same input
        increment — jobs/curate.py), the caller passes a validator that
        raises to abort instead.  On abort (or retry exhaustion) the
        already-staged data files are deleted, so a losing writer leaves
        no orphans behind."""
        cur0 = self.current_seq()
        if cur0 is not None:
            df = self._conform(df, self.manifest(cur0).get("schema"))
        new_files, schema_json = self._stage_df(df)

        def _unstage() -> None:
            for fe in new_files:
                try:
                    os.remove(os.path.join(self.root, fe.path))
                except OSError:
                    pass

        if summary_fn is not None:
            summary = {**(summary or {}), **summary_fn()}
        for _ in range(max_retries):
            cur = self.current_seq()
            if validate_fn is not None:
                try:
                    validate_fn()
                except Exception:
                    _unstage()
                    raise
            base_m = self.manifest(cur) if cur is not None else {}
            base = base_m.get("files", [])
            # a rebase must adopt the base's EVOLVED schema, not re-publish
            # the one captured at staging time: a concurrent add_columns
            # would otherwise be silently reverted for every later reader.
            # Our staged files must be name-subset-compatible with it
            # (they are whenever the only mid-flight change was additive —
            # old-shape files null-fill on read); anything else is a real
            # conflict, surfaced rather than committed.
            commit_schema = schema_json
            base_schema = base_m.get("schema")
            if base_schema and schema_json and base_schema != schema_json:
                ours = {
                    f["name"]: json.dumps(f["type"], sort_keys=True)
                    for f in json.loads(schema_json)["fields"]
                }
                theirs = {
                    f["name"]: json.dumps(f["type"], sort_keys=True)
                    for f in json.loads(base_schema)["fields"]
                }
                if all(theirs.get(n) == t for n, t in ours.items()):
                    commit_schema = base_schema
                else:
                    _unstage()
                    raise CommitConflict(
                        f"append staged schema is incompatible with the "
                        f"table's current schema at {self.root} (concurrent "
                        f"non-additive evolution)"
                    )
            # the exactly-once streaming watermark rides every commit —
            # a plain append must not erase it, or expire() + a replayed
            # micro-batch double-commits.  MERGED per stream (not
            # caller-wins): a streaming sink's summary carries a
            # stream_epochs dict computed from a PRE-RACE read, so on a
            # rebase the base manifest may hold a concurrent stream's
            # newer epoch — replacing would erase it and degrade that
            # stream's exactly-once to at-least-once.  Re-read and
            # combine via per-stream max on every retry iteration.
            merged_wm = _merge_stream_watermarks(
                base_m.get("summary", {}) or {}, summary or {}
            )
            try:
                return self.commit(
                    [FileEntry.from_json(d) for d in base] + new_files,
                    "append",
                    summary={**(summary or {}), **merged_wm},
                    schema_json=commit_schema,
                    expected_parent=cur,
                )
            except CommitConflict:
                continue  # someone else landed; rebase on their manifest
        _unstage()
        raise CommitConflict(f"append lost {max_retries} commit races at {self.root}")

    def overwrite(
        self, df: DataFrame, summary: Optional[dict] = None, summary_fn=None
    ) -> int:
        """Replace the table's live set with ``df`` (no retry: an overwrite
        that raced must re-validate against the new state by design).

        ``summary_fn``: as in :meth:`append` — called once AFTER the data
        files are staged so ``observe()`` metrics from the write pass can
        land inside the commit manifest."""
        new_files, schema_json = self._stage_df(df)
        if summary_fn is not None:
            summary = {**(summary or {}), **summary_fn()}
        cur = self.current_seq()
        # the exactly-once streaming watermark survives every commit kind —
        # an overwrite that erased it would let an expire + replayed
        # micro-batch double-commit (every other operation carries it
        # too); per-stream-max merged, same as append's rebase path
        base_summary = (
            (self.manifest(cur).get("summary", {}) or {}) if cur is not None else {}
        )
        merged_wm = _merge_stream_watermarks(base_summary, summary or {})
        return self.commit(
            new_files, "overwrite",
            summary={**(summary or {}), **merged_wm},
            schema_json=schema_json,
            expected_parent=cur,
        )

    def rollback(self, seq: int, summary: Optional[dict] = None) -> int:
        """Commit a NEW snapshot whose live set equals snapshot ``seq``
        (history-preserving rollback, as Iceberg's rollback-to-snapshot)."""
        old = self.manifest(seq)
        cur = self.current_seq()
        # carry the CURRENT epoch watermark (not the rollback target's):
        # the stream already committed those epochs — rolling the data
        # back must not open the door to replaying them twice
        merged_wm = _merge_stream_watermarks(
            self.manifest(cur).get("summary", {}) or {}, summary or {}
        )
        return self.commit(
            [FileEntry.from_json(d) for d in old["files"]],
            "rollback",
            summary={**(summary or {}), **merged_wm, "rolled_back_to": seq},
            schema_json=old.get("schema"),
            expected_parent=cur,
        )

    # ------------------------------------------------------------------- read

    def _prune_files(
        self, files: List[FileEntry], prune: Tuple[str, Any, Any]
    ) -> List[FileEntry]:
        col, lo, hi = prune
        lo_s, hi_s = _json_safe(lo), _json_safe(hi)
        keep = []
        for f in files:
            st = f.stats.get(col)
            if st is None:  # no stats -> cannot prove absent -> must read
                keep.append(f)
                continue
            fmin, fmax = st[0], st[1]
            try:
                if (hi_s is not None and fmin is not None and fmin > hi_s) or (
                    lo_s is not None and fmax is not None and fmax < lo_s
                ):
                    continue  # file's [min,max] disjoint from [lo,hi]
            except TypeError:
                pass  # incomparable probe/stat types -> cannot prune
            keep.append(f)
        return keep

    def read(
        self,
        spark: SparkSession,
        seq: Optional[int] = None,
        prune: Optional[Tuple[str, Any, Any]] = None,
    ) -> DataFrame:
        """Snapshot-isolated read: plans over the manifest's immutable file
        list, so commits after this call never leak into the scan.

        ``prune=(col, lo, hi)`` drops files whose footer [min,max] cannot
        intersect [lo, hi] BEFORE Spark plans the scan (manifest pruning);
        ``lo``/``hi`` may be None for one-sided ranges.  Pruning is a
        file-level cut only — callers still apply the exact row filter
        (same contract as Iceberg: metadata pruning never replaces the
        predicate, it just skips files that provably contain no match)."""
        m = self.manifest(seq)
        files = [FileEntry.from_json(d) for d in m["files"]]
        if prune is not None:
            files = self._prune_files(files, prune)
        schema = T.StructType.fromJson(json.loads(m["schema"])) if m.get("schema") else None
        if not files:
            if schema is None:
                raise ValueError("empty snapshot with no recorded schema")
            return local_frame(spark, [], schema)
        paths = [os.path.join(self.root, f.path) for f in files]
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)  # skip footer-merge schema inference
        return reader.parquet(*paths)

    # ------------------------------------------------------------- incremental

    def read_changes(
        self, spark: SparkSession, after_seq: int, until_seq: Optional[int] = None
    ) -> DataFrame:
        """Rows appended AFTER snapshot ``after_seq`` up to ``until_seq``
        (default: current) — the Iceberg incremental-scan analog.

        This is how a downstream job consumes a 100-TB table without
        rescanning it: persist the last-processed seq, then each run
        reads only the files new commits added (file-list set difference,
        O(files) driver-side, zero data reads for unchanged files).

        Only valid across ``append`` (and streaming-sink) commits: an
        ``overwrite``/``compact``/``rollback`` in the range rewrites file
        membership without row-level change tracking, so the method
        raises rather than silently double-counting (same contract as
        Iceberg's incremental read)."""
        cur = self.current_seq()
        if cur is None:
            raise ValueError(f"snapshot table at {self.root} has no snapshots")
        until_seq = cur if until_seq is None else until_seq
        if after_seq > until_seq:
            raise ValueError(f"after_seq {after_seq} > until_seq {until_seq}")
        base_files = (
            {d["path"] for d in self.manifest(after_seq)["files"]}
            if after_seq >= 1
            else set()
        )
        m = self.manifest(until_seq)
        for seq in range(after_seq + 1, until_seq + 1):
            op = self.manifest(seq)["operation"]
            if op != "append":
                raise ValueError(
                    f"incremental read crosses non-append snapshot {seq} "
                    f"({op}); restart from a full read of seq {seq}"
                )
        new = [
            FileEntry.from_json(d)
            for d in m["files"]
            if d["path"] not in base_files
        ]
        schema = T.StructType.fromJson(json.loads(m["schema"])) if m.get("schema") else None
        if not new:
            if schema is None:
                raise ValueError("empty change set with no recorded schema")
            return local_frame(spark, [], schema)
        paths = [os.path.join(self.root, f.path) for f in new]
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    # ----------------------------------------------------------------- compact

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 * 1024 * 1024,
        summary: Optional[dict] = None,
        cluster_by: Optional[List[str]] = None,
    ) -> Optional[int]:
        """Rewrite the current live set into ~target-sized files (the
        Iceberg ``rewrite_data_files`` analog for the small-file problem).

        Streaming sinks and per-group commits accrete small files; at
        100 TB a scan's task count — and the namenode/manifest pressure —
        is O(files), so periodic compaction is part of the table's
        lifecycle, not an optimization.  The rewrite is a normal
        distributed repartition job; the result lands as ONE atomic
        ``compact`` commit pinned to the base snapshot (a commit racing
        the rewrite aborts it cleanly — rerun on the new base).  History
        is preserved: pre-compaction snapshots stay readable until
        ``expire`` GCs their files.

        ``cluster_by``: range-partition + sort the rewrite on these
        columns (Iceberg's sort-order rewrite): each output file then
        covers a tight, near-disjoint [min,max] slice of the leading
        column, which is what makes ``read(prune=...)`` actually skip
        files — compaction without clustering produces hash-mixed files
        whose stats span everything.

        Returns the new snapshot seq, or None when the table is already
        within budget (no commit published)."""
        cur = self.current_seq()
        if cur is None:
            return None
        m = self.manifest(cur)
        files = [FileEntry.from_json(d) for d in m["files"]]
        total = sum(f.bytes for f in files)
        n_target = max(1, -(-total // target_file_bytes))  # ceil
        if len(files) <= n_target and not cluster_by:
            return None
        src = self.read(spark, seq=cur)
        if cluster_by:
            df = src.repartitionByRange(n_target, *cluster_by).sortWithinPartitions(
                *cluster_by
            )
        else:
            df = src.repartition(n_target)
        new_files, schema_json = self._stage_df(df)
        # carry the streaming-sink epoch watermark forward: without this,
        # compact + expire could erase the exactly-once marker the sink's
        # replay check depends on (streaming/snapshot_sink.py)
        merged_wm = _merge_stream_watermarks(m.get("summary", {}) or {}, summary or {})
        return self.commit(
            new_files,
            "compact",
            summary={
                **(summary or {}),
                **merged_wm,
                "files_before": len(files),
                "files_after": len(new_files),
                "bytes": total,
            },
            schema_json=schema_json,
            expected_parent=cur,
        )

    # ---------------------------------------------------------------- evolve

    def add_columns(
        self, cols: List[Tuple[str, str]], summary: Optional[dict] = None
    ) -> int:
        """Metadata-only schema evolution (Iceberg ``ALTER TABLE ADD
        COLUMN``): record a widened schema in a new commit; ZERO data
        files are rewritten.

        ``cols``: [(name, spark_type_name)], e.g. ("score", "double").
        Readers reconcile old files lazily — the scan applies the
        table schema, and parquet files missing a column yield NULL for
        it (the add-column-means-null contract).  New appends carry the
        column physically.  At 100 TB this is the only viable way to add
        a column: a rewrite would be a full-table job for what is
        logically a catalog edit.

        Dropping/renaming is intentionally absent: without Iceberg's
        field-IDs, a rename would silently orphan old data (name-based
        resolution), so the honest subset is additive-only.
        """
        cur = self.current_seq()
        if cur is None:
            raise ValueError("cannot evolve an empty table (no recorded schema)")
        m = self.manifest(cur)
        if not m.get("schema"):
            raise ValueError("table has no recorded schema to evolve")
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        existing = {f.name for f in schema.fields}
        for name, _ in cols:
            if name in existing:
                raise ValueError(f"column {name!r} already exists")
        for name, typ in cols:
            schema = schema.add(name, typ, True)
        merged_wm = _merge_stream_watermarks(m.get("summary", {}) or {}, summary or {})
        return self.commit(
            [FileEntry.from_json(d) for d in m["files"]],
            "evolve",
            summary={
                **(summary or {}),
                **merged_wm,
                "added_columns": [list(c) for c in cols],
            },
            schema_json=schema.json(),
            expected_parent=cur,
        )

    # ------------------------------------------------------------------- merge

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: List[str],
        when_matched: str = "update",
        summary: Optional[dict] = None,
    ) -> int:
        """Copy-on-write MERGE (the Iceberg ``MERGE INTO`` analog): upsert
        ``source`` into the table by ``key_cols``, rewriting ONLY the data
        files that actually contain a matched key.

        At 100 TB the whole point of MERGE is touching O(matched files),
        not O(table): a CDC batch of 1M keys against a 200k-file table
        should rewrite the handful of files those keys live in and carry
        every other file forward by reference (zero IO).  Three cuts get
        there:

        1. **stats cut** (driver, metadata-only): files whose footer
           [min,max] on the leading key column cannot intersect the
           source's key range are untouched without being opened;
        2. **membership cut** (one distributed semi-join): scan only the
           stats-surviving files with ``input_file_name()``, semi-join
           against the source keys, and collect the DISTINCT matched file
           names — O(matched files) driver-side, never rows;
        3. **rewrite** (one distributed job over matched files only):
           matched-file rows anti-joined on the key, unioned with the
           source (``when_matched="update"``) — or just the anti-join for
           ``when_matched="delete"`` (row-level delete by key set).

        Unmatched source rows are inserted (classic upsert); for
        ``"delete"`` they are ignored.  Duplicate keys in ``source``
        raise (Iceberg's MERGE cardinality check: one source row per
        target key, else the result is order-dependent).

        The commit pins ``expected_parent`` — a racing commit aborts this
        merge cleanly (rerun on the new base), same contract as
        ``compact``.  Snapshot history stays intact: pre-merge state
        remains addressable until ``expire``.
        """
        from pyspark.sql import functions as F

        if when_matched not in ("update", "delete"):
            raise ValueError(f"when_matched must be update|delete, got {when_matched!r}")
        cur = self.current_seq()
        if cur is None:
            if when_matched == "delete":
                raise ValueError("cannot merge-delete into an empty table")
            return self.append(source, summary={**(summary or {}), "merge": "into-empty"})
        m = self.manifest(cur)
        files = [FileEntry.from_json(d) for d in m["files"]]

        # MERGE cardinality check + the one tiny driver agg that powers the
        # stats cut (min/max of the leading key; count/distinct for the dup
        # check rides the same single-row collect)
        lead = key_cols[0]
        src = persist(self._conform(source, m.get("schema")), StorageLevel.MEMORY_AND_DISK_DESER)
        agg = src.agg(
            F.min(lead).alias("lo"),
            F.max(lead).alias("hi"),
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(*[F.col(k) for k in key_cols]).alias("nk"),
        ).collect()[0]
        if agg["n"] != agg["nk"]:
            src.unpersist()
            raise ValueError(
                f"MERGE source has duplicate keys on {key_cols} "
                f"({agg['n']} rows, {agg['nk']} distinct) — result would be order-dependent"
            )
        if agg["n"] == 0:
            src.unpersist()
            return self.commit(
                files, "merge",
                summary={**(summary or {}), "files_rewritten": 0, "files_untouched": len(files)},
                schema_json=m.get("schema"), expected_parent=cur,
            )

        candidates = self._prune_files(files, (lead, agg["lo"], agg["hi"]))
        cand_paths = {os.path.join(self.root, f.path) for f in candidates}
        keys = src.select(*key_cols).distinct()
        matched_files: set = set()
        if cand_paths:
            with_name = self.read_files(spark, candidates, m.get("schema")).withColumn(
                "_file", F.input_file_name()
            )
            matched_files = {
                r["_file"]
                for r in with_name.join(F.broadcast(keys), on=key_cols, how="leftsemi")
                .select("_file").distinct().collect()
            }
        # normalize: input_file_name yields a URI (file:///...); manifest
        # paths are plain — compare on the path tail
        def _norm(p: str) -> str:
            # input_file_name() yields a percent-ENCODED URI — decode it
            # or a root containing spaces/non-ASCII never matches the raw
            # manifest path and MERGE quietly inserts instead of updating
            from urllib.parse import unquote

            return unquote(p.split("://", 1)[-1].lstrip("/"))
        matched_norm = {_norm(p) for p in matched_files}
        touched = [
            f for f in files
            if _norm(os.path.abspath(os.path.join(self.root, f.path))) in matched_norm
        ]
        untouched = [f for f in files if f not in touched]

        if touched:
            old_rows = self.read_files(spark, touched, m.get("schema"))
            kept = old_rows.join(F.broadcast(keys), on=key_cols, how="left_anti")
        else:
            kept = None
        if when_matched == "update":
            new_rows = kept.unionByName(src) if kept is not None else src
        else:
            new_rows = kept  # delete: matched rows drop, source never inserts
        inserted = 0 if when_matched == "delete" else int(agg["n"])

        new_files: List[FileEntry] = []
        schema_json = m.get("schema")
        if new_rows is not None:
            new_files, schema_json = self._stage_df(new_rows)
        src.unpersist()
        merged_wm = _merge_stream_watermarks(m.get("summary", {}) or {}, summary or {})
        return self.commit(
            untouched + new_files,
            "merge",
            summary={
                **(summary or {}),
                **merged_wm,
                "when_matched": when_matched,
                "source_rows": int(agg["n"]),
                "inserted_or_updated": inserted,
                "files_rewritten": len(touched),
                "files_untouched": len(untouched),
            },
            schema_json=schema_json,
            expected_parent=cur,
        )

    def read_files(
        self, spark: SparkSession, files: List[FileEntry], schema_json: Optional[str]
    ) -> DataFrame:
        """Scan an explicit FileEntry list with the table schema."""
        paths = [os.path.join(self.root, f.path) for f in files]
        reader = spark.read
        if schema_json:
            reader = reader.schema(T.StructType.fromJson(json.loads(schema_json)))
        return reader.parquet(*paths)

    # ------------------------------------------------------------------ delete

    def delete_range(
        self,
        spark: SparkSession,
        col: str,
        lo: Any,
        hi: Any,
        summary: Optional[dict] = None,
    ) -> int:
        """Delete all rows with ``lo <= col <= hi`` — Iceberg's
        ``DELETE WHERE`` with metadata-only fast path.

        File-level trichotomy from footer stats (driver, no data IO):

        * **disjoint** files ([min,max] outside the range) carry forward
          by reference — untouched;
        * **fully-covered** files (lo <= min AND max <= hi) are DROPPED
          from the manifest — a metadata-only delete, zero bytes read or
          written (this is why retention jobs at 100 TB partition/cluster
          by their delete key: expiry becomes a manifest edit);
        * only **straddling** files are rewritten with the complement
          predicate — one distributed filter job over that subset.

        Both bounds are required (use merge(when_matched="delete") for
        arbitrary key sets).  History preserved; racing commit aborts.
        """
        from pyspark.sql import functions as F

        if lo is None or hi is None:
            raise ValueError("delete_range needs both bounds; use merge(..., 'delete') for key sets")
        cur = self.current_seq()
        if cur is None:
            raise ValueError("cannot delete from an empty table")
        m = self.manifest(cur)
        files = [FileEntry.from_json(d) for d in m["files"]]
        lo_s, hi_s = _json_safe(lo), _json_safe(hi)

        disjoint: List[FileEntry] = []
        covered: List[FileEntry] = []
        straddle: List[FileEntry] = []
        for f in files:
            st = f.stats.get(col)
            if st is None:
                straddle.append(f)  # no stats: must rewrite to be safe
                continue
            fmin, fmax = st[0], st[1]
            # null count (None = unknown, legacy 2-element stats included):
            # min/max describe NON-NULL values only, and NULL is never in
            # [lo, hi] — a file is metadata-droppable only when the range
            # covers it AND it provably holds zero nulls; a NULL-bearing
            # file whose non-null values are covered must REWRITE to keep
            # its null rows
            fnull = st[2] if len(st) > 2 else None
            try:
                if fmin is not None and fmin > hi_s or fmax is not None and fmax < lo_s:
                    disjoint.append(f)
                elif (
                    fmin is not None
                    and fmax is not None
                    and fmin >= lo_s
                    and fmax <= hi_s
                    and fnull == 0
                ):
                    covered.append(f)
                else:
                    straddle.append(f)
            except TypeError:
                straddle.append(f)  # incomparable types: rewrite to be safe

        new_files: List[FileEntry] = []
        schema_json = m.get("schema")
        if straddle:
            # NULL is not in [lo, hi]: the complement filter must KEEP
            # null rows (the raw negation evaluates to NULL for them,
            # silently dropping every null row of a rewritten file)
            remain = self.read_files(spark, straddle, schema_json).filter(
                F.col(col).isNull()
                | ~((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))
            )
            new_files, schema_json = self._stage_df(remain)
        merged_wm = _merge_stream_watermarks(m.get("summary", {}) or {}, summary or {})
        return self.commit(
            disjoint + new_files,
            "delete",
            summary={
                **(summary or {}),
                **merged_wm,
                "predicate": {"col": col, "lo": lo_s, "hi": hi_s},
                "files_untouched": len(disjoint),
                "files_dropped_metadata_only": len(covered),
                "files_rewritten": len(straddle),
            },
            schema_json=schema_json,
            expected_parent=cur,
        )

    # ------------------------------------------------------------------ expire

    def expire(self, keep_last: int, orphan_grace_seconds: int = 3600) -> dict:
        """Drop all but the last ``keep_last`` manifests and GC data files
        referenced by NO retained manifest.  Metadata-only + unlink —
        never touches live bytes.

        ``orphan_grace_seconds``: a data file referenced by no manifest at
        all is either garbage from a dead writer or a CONCURRENT writer's
        staged-but-not-yet-committed file (``_stage_df`` publishes data
        before the manifest commit) — deleting the latter would make the
        racing commit publish a manifest pointing at missing files.
        Unreferenced files younger than the grace window are left alone
        (Iceberg's orphan-file-cleanup retention contract); files
        referenced by an EXPIRED manifest are removed regardless of age —
        their commit already happened and lost its retention."""
        if keep_last < 1:
            raise ValueError(
                f"keep_last must be >= 1 (got {keep_last}); "
                "0 would expire the CURRENT snapshot and destroy the table"
            )
        import time as _time

        cur = self.current_seq()
        if cur is None:
            return {"manifests_removed": 0, "files_removed": 0}
        cutoff = cur - keep_last + 1
        live: set = set()
        expired_refs: set = set()
        removed_manifests = 0
        for seq in range(1, cur + 1):
            p = self._snap_path(seq)
            if not os.path.exists(p):
                continue
            with open(p) as f:
                refs = {d["path"] for d in json.load(f)["files"]}
            if seq < cutoff:
                os.unlink(p)
                removed_manifests += 1
                expired_refs.update(refs)
            else:
                live.update(refs)
        removed_files = 0
        now = _time.time()
        if os.path.isdir(self.data_dir):
            for name in os.listdir(self.data_dir):
                rel = os.path.join("data", name)
                if rel in live:
                    continue
                full = os.path.join(self.data_dir, name)
                if rel not in expired_refs:
                    # never referenced by any manifest: possibly a racing
                    # writer's staged file — only collect it once it has
                    # outlived the grace window
                    try:
                        if now - os.path.getmtime(full) < orphan_grace_seconds:
                            continue
                    except OSError:
                        continue
                os.unlink(full)
                removed_files += 1
        return {"manifests_removed": removed_manifests, "files_removed": removed_files}
