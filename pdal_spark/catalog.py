"""Snapshot-versioned table catalog — the Iceberg commit protocol on
plain parquet.

North-rule context: production runs read/write Iceberg tables. The
sandbox has no Iceberg runtime, so this module implements the parts of
the spec the engine actually leans on, catalog-agnostically, with the
same on-disk shape Iceberg uses:

    table/
      data/<uuid>.parquet            immutable data files
      metadata/v<N>.json             snapshot manifests (file list +
                                     per-file column min/max + counts)
      metadata/version-hint.text     current-version pointer

* **Atomic, optimistic commits.** A writer stages data files, then
  creates ``v<N+1>.json`` with ``open(..., "x")`` — EXCLUSIVE create, so
  one writer wins each version. The version hint is updated last (a
  stale hint only costs a directory probe, never correctness).
  ``_commit`` applies one of two rules:

  - **retrying** — ``append``, ``audited_append``, ``overwrite``,
    ``rollback``: a lost race re-reads the head and retries (Iceberg's
    optimistic-concurrency loop).
  - **validated** — ``merge``, ``compact``, ``layout.optimize_catalog``
    (all via ``rewrite``): one attempt against the planned version; if
    another writer committed since, raise ``CommitConflict`` and delete
    the staged files (Iceberg's validation semantics).
* **Time travel.** ``read(version=K)`` / ``history()`` — every snapshot
  records parent, operation, timestamp and summary counts.
* **File pruning.** ``append`` collects per-file min/max for the
  declared stats columns from the parquet FOOTERS (pyarrow metadata
  scan — no data read) and stores them in the manifest; ``read`` with a
  ``bbox`` prunes whole files before Spark ever sees them, the
  manifest-level analog of Iceberg partition/metrics pruning. Row-group
  pushdown inside surviving files still applies on top. Every read
  (``read``, ``incremental_read``, ``changes``, ``pruned_count``) picks
  its files through ``_select`` and scans them through ``_scan``.
* **Reads plan without Spark jobs.** ``_scan`` (and merge's provenance
  scan, ``audited_append``'s audit and ``compact``) take the schema from
  the first file's Spark footer instead of Spark's inference job, and
  hand Spark the paths in chunks it lists serially
  (``parquet.read_parquet``), so a read of any file count runs its
  first Spark job only when it is executed.
* **Copy-on-write merge.** ``merge`` reads the source keys once (up to
  ``MERGE_KEY_CAP``) and plans in Python: uniqueness, footer-stats
  and bloom file pruning, and one SQL ``IN`` predicate, so Spark runs
  one provenance scan and one shuffle-free rewrite of the files that
  hold a key. A larger source keeps its keys in Spark (semi/anti join).
* **Rollback.** ``rollback(K)`` commits a new snapshot that re-points to
  ``K``'s file list (history is never rewritten).
* **Point-lookup indexes.** ``bloom_cols`` adds a per-file Bloom bitmap
  to the manifest (1 KiB/file, built from one column-pruned pyarrow
  read at stage time): range stats cannot prune interleaved keys, the
  bloom prunes point lookups and small merges anyway — no false
  negatives, Iceberg/Delta's bloom-index analog.

``lineage.ResumableJob`` (write-then-commit batches) composes with this:
each completed batch can be ``append``-ed as one snapshot, giving
exactly-once visible commits over at-least-once batch writes.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from typing import Iterator, Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from pdal_spark.parquet import read_parquet

# Bloom geometry is part of the on-disk format: the manifest stores the
# bits without their size, so every reader must probe with these values.
BLOOM_BITS = 8192
BLOOM_K = 4
MAX_COMMIT_ATTEMPTS = 10
# merge() collects up to this many source keys into Python and plans
# from them there; a larger source keeps its keys in Spark.
MERGE_KEY_CAP = 10_000


class CommitConflict(RuntimeError):
    pass


# -- per-file bloom indexes -------------------------------------------------
#
# min/max footer stats prune RANGE predicates; they are useless for
# point lookups over interleaved keys (every file's [min,max] covers
# every key — the "find one url among 10^12" shape). A per-file Bloom
# bitmap (BLOOM_BITS bits, BLOOM_K probes; 1 KiB per file) in the
# manifest prunes those: no false negatives, deterministic (md5-derived
# probe positions), built at stage time from ONE column-pruned pyarrow
# read of the staged file.


# md5 state after "<i>:" for each probe i; a value's hash under probe i
# is a copy fed the value's text
_BLOOM_PROBES = [hashlib.md5(f"{i}:".encode()) for i in range(BLOOM_K)]
assert BLOOM_BITS & (BLOOM_BITS - 1) == 0 and BLOOM_BITS <= 1 << 16


def _bloom_positions(values) -> np.ndarray:
    """The BLOOM_K bit positions of each value, one row per value:
    int.from_bytes(md5 of f"{i}:{value}"[:8], "big") % BLOOM_BITS, which
    for a power of two up to 2^16 is the low bits of digest bytes 6-7."""
    digests = bytearray()
    for v in values:
        b = f"{v}".encode()
        for probe in _BLOOM_PROBES:
            h = probe.copy()
            h.update(b)
            digests += h.digest()
    d = np.frombuffer(digests, dtype=np.uint8).reshape(-1, BLOOM_K, 16)
    return ((d[..., 6].astype(np.int64) << 8) | d[..., 7]) & (BLOOM_BITS - 1)


def _build_bloom(path: str, col: str) -> str:
    import pyarrow.parquet as pq

    vals = pq.read_table(path, columns=[col]).column(0).drop_null().to_pylist()
    bits = np.zeros(BLOOM_BITS, dtype=bool)
    bits[_bloom_positions(vals).ravel()] = True
    return np.packbits(bits, bitorder="little").tobytes().hex()


def _sql_literal(dtype):
    """Exact SQL literal renderer for a merge key of Spark type
    ``dtype``, or None for a type merge() matches by join instead."""
    from pyspark.sql.types import IntegralType, StringType

    if isinstance(dtype, IntegralType):
        return lambda v: str(int(v))
    if dtype == StringType():
        # hex of the UTF-8 bytes: no quote or backslash escaping, so the
        # literal is exact under any string-literal parser setting
        return lambda v: f"CAST(X'{v.encode().hex()}' AS STRING)"
    return None


def _overlaps(f: dict, bbox: tuple, bbox_cols: tuple) -> bool:
    """False only when ``f``'s footer stats put it outside ``bbox``."""
    minx, miny, maxx, maxy = bbox
    cx, cy = bbox_cols
    st = f.get("stats", {})
    if cx in st and (st[cx][0] > maxx or st[cx][1] < minx):
        return False
    if cy in st and (st[cy][0] > maxy or st[cy][1] < miny):
        return False
    return True  # missing stats -> cannot prune, must read


class SnapshotTable:
    def __init__(self, spark: SparkSession, path: str,
                 stats_cols: Sequence[str] = (),
                 bloom_cols: Sequence[str] = ()):
        self.spark = spark
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.meta_dir = os.path.join(path, "metadata")
        self.stats_cols = tuple(stats_cols)
        self.bloom_cols = tuple(bloom_cols)
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.meta_dir, exist_ok=True)

    @staticmethod
    def _bloom_may_contain(f: dict, col: str, values) -> bool:
        bl = f.get("bloom", {}).get(col)
        if bl is None:
            return True  # unindexed file -> cannot prune
        bits = np.unpackbits(np.frombuffer(bytes.fromhex(bl), dtype=np.uint8),
                             bitorder="little").astype(bool)
        return bool(bits[_bloom_positions(values)].all(axis=1).any())

    # -- snapshot bookkeeping ---------------------------------------------

    def _hint_path(self) -> str:
        return os.path.join(self.meta_dir, "version-hint.text")

    def current_version(self) -> int:
        """Highest committed manifest (hint is a hint, directory is truth)."""
        v = 0
        try:
            with open(self._hint_path()) as f:
                v = int(f.read().strip() or 0)
        except FileNotFoundError:
            pass
        while os.path.exists(os.path.join(self.meta_dir, f"v{v + 1}.json")):
            v += 1
        return v

    def snapshot(self, version: Optional[int] = None) -> dict:
        v = self.current_version() if version is None else version
        if v == 0:
            return {"version": 0, "files": [], "parent": None,
                    "operation": "create", "ts": None, "total_rows": 0}
        with open(os.path.join(self.meta_dir, f"v{v}.json")) as f:
            return json.load(f)

    def _snapshots(self, start: int = 1) -> Iterator[dict]:
        """Committed snapshots from version ``start`` to the head."""
        for v in range(start, self.current_version() + 1):
            yield self.snapshot(v)

    def history(self) -> DataFrame:
        rows = [
            (s["version"], s["parent"], s["operation"], float(s["ts"]),
             len(s["files"]), int(s["total_rows"]))
            for s in self._snapshots()
        ]
        return self.spark.createDataFrame(
            rows,
            "version int, parent int, operation string, ts double, "
            "n_files int, total_rows long",
        )

    # -- writes ------------------------------------------------------------

    def _stage(self, df: DataFrame) -> list[dict]:
        """Write data files + collect footer stats (no data re-read)."""
        import pyarrow.parquet as pq

        stage = os.path.join(self.data_dir, f"stage-{uuid.uuid4().hex[:12]}")
        df.write.mode("overwrite").parquet(stage)
        entries = []
        for name in sorted(os.listdir(stage)):
            if not name.endswith(".parquet"):
                continue
            src = os.path.join(stage, name)
            dst = os.path.join(self.data_dir, f"{uuid.uuid4().hex}.parquet")
            os.rename(src, dst)
            meta = pq.ParquetFile(dst).metadata
            stats: dict = {}
            for c in self.stats_cols:
                idx = meta.schema.names.index(c) if c in meta.schema.names else -1
                if idx < 0:
                    continue
                mins, maxs = [], []
                for rg in range(meta.num_row_groups):
                    st = meta.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        mins, maxs = [], []
                        break
                    mins.append(st.min)
                    maxs.append(st.max)
                if mins:
                    stats[c] = [min(mins), max(maxs)]
            entry = {"path": dst, "rows": meta.num_rows, "stats": stats}
            blooms = {
                c: _build_bloom(dst, c)
                for c in self.bloom_cols if c in meta.schema.names
            }
            if blooms:
                entry["bloom"] = blooms
            entries.append(entry)
        for leftover in os.listdir(stage):
            os.remove(os.path.join(stage, leftover))
        os.rmdir(stage)
        return entries

    def _commit(self, new_files: list[dict], operation: str,
                keep: Optional[list] = None,
                planned: Optional[int] = None) -> int:
        """Commit ``keep`` + ``new_files`` as the next snapshot; ``keep``
        None carries the head's file list. The two commit rules:

        * ``planned`` None — retrying: a lost exclusive-create race
          re-reads the head and tries again.
        * ``planned`` = a version — validated: one attempt, and only if
          the head is still ``planned``.

        On failure the staged ``new_files`` are deleted before
        ``CommitConflict`` is raised: they were never visible, and
        ``expire()`` only collects once-committed files."""
        attempts = MAX_COMMIT_ATTEMPTS if planned is None else 1
        for _ in range(attempts):
            cur = self.current_version()
            if planned is not None and cur != planned:
                break
            files = (self.snapshot(cur)["files"] if keep is None
                     else list(keep)) + new_files
            manifest = {
                "version": cur + 1,
                "parent": cur if cur else None,
                "operation": operation,
                "ts": time.time(),
                "files": files,
                "total_rows": sum(int(f["rows"]) for f in files),
                "stats_cols": list(self.stats_cols),
            }
            target = os.path.join(self.meta_dir, f"v{cur + 1}.json")
            try:
                with open(target, "x") as f:
                    json.dump(manifest, f)
            except FileExistsError:
                continue  # lost the race — re-read and retry
            tmp = self._hint_path() + ".tmp"
            with open(tmp, "w") as f:
                f.write(str(cur + 1))
            os.replace(tmp, self._hint_path())
            return cur + 1
        for f in new_files:
            os.remove(f["path"])
        if planned is None:
            raise CommitConflict(f"gave up after {attempts} commit attempts")
        raise CommitConflict(
            f"another writer committed after v{planned} while {operation} "
            f"planned against it"
        )

    def append(self, df: DataFrame, operation: str = "append") -> int:
        """Stage data files, then commit snapshot = parent files + new.
        ``operation`` labels the snapshot in history() — callers use it
        for idempotence (skip an already-committed labeled append)."""
        return self._commit(self._stage(df), operation)

    def audited_append(self, df: DataFrame,
                       constraints: list[dict]) -> tuple[Optional[int], list]:
        """Write-audit-publish (the Iceberg WAP pattern): stage the
        data files, run a Deequ-style constraint suite against EXACTLY
        the staged bytes (not the input plan — what is audited is what
        publishes), and commit only if every constraint passes. On
        failure the staged files are deleted and the table is
        untouched — a bad crawl drop can never become visible to
        readers, because visibility IS the manifest commit.

        Returns (version, verdicts): version None when the audit
        failed. Verdicts are (name, column, metric, value, passed)
        rows either way — the ingest log keeps them."""
        from pdal_spark.datapipe.dataquality import check

        new_files = self._stage(df)
        staged = read_parquet(self.spark, [f["path"] for f in new_files])
        verdicts = check(staged, constraints).collect()
        if all(r.passed == 1 for r in verdicts):
            return self._commit(new_files, "audited-append"), verdicts
        for f in new_files:
            os.remove(f["path"])
        return None, verdicts

    def rewrite(self, df: Optional[DataFrame], operation: str,
                planned: int, keep: list[dict]) -> int:
        """Copy-on-write commit of a rewrite planned against version
        ``planned``: stage ``df`` (nothing when None) and commit it
        beside the carried ``keep`` files under the validated rule —
        ``CommitConflict`` (staged files removed) if any other writer
        committed after ``planned``. Returns the new version."""
        new_files = self._stage(df) if df is not None else []
        return self._commit(new_files, operation, keep, planned)

    def fsck(self, version: Optional[int] = None,
             check_rows: bool = False) -> dict:
        """Catalog consistency check (the operational `fsck` every
        snapshot store needs before trusting a restore): verifies that
        every data file the snapshot references exists, optionally that
        its parquet-footer row count still matches the manifest
        (``check_rows`` — footer-only, no data read), and reports
        on-disk parquet files no LIVE snapshot references (orphans from
        crashed writes before their commit; `expire` only collects
        files that WERE committed once). Returns
        {missing, row_mismatches, orphans, ok}."""
        import pyarrow.parquet as pq

        s = self.snapshot(version)
        missing, mismatches = [], []
        for f in s["files"]:
            if not os.path.exists(f["path"]):
                missing.append(f["path"])
            elif check_rows:
                n = pq.ParquetFile(f["path"]).metadata.num_rows
                if n != int(f["rows"]):
                    mismatches.append(
                        {"path": f["path"], "manifest_rows": int(f["rows"]),
                         "footer_rows": n})
        live = {f["path"] for snap in self._snapshots() for f in snap["files"]}
        orphans = sorted(
            os.path.join(self.data_dir, name)
            for name in os.listdir(self.data_dir)
            if name.endswith(".parquet")
            and os.path.join(self.data_dir, name) not in live
        )
        return {
            "missing": sorted(missing),
            "row_mismatches": mismatches,
            "orphans": orphans,
            "ok": not missing and not mismatches,
        }

    def committed_operations(self) -> set:
        return {s["operation"] for s in self._snapshots()}

    def overwrite(self, df: DataFrame) -> int:
        """Snapshot containing ONLY the new files (old files stay on disk
        for time travel until expired)."""
        return self._commit(self._stage(df), "overwrite", keep=[])

    def merge(self, source: DataFrame, key: str,
              when_matched: str = "update") -> dict:
        """Copy-on-write MERGE (the Iceberg/Delta ``MERGE INTO`` shape):
        target rows whose ``key`` appears in ``source`` are replaced by
        the source row (``when_matched="update"``) or removed
        (``"delete"``); unmatched source rows are inserted (update mode
        only). Only data files that actually CONTAIN a matching key are
        rewritten — every other file carries into the new snapshot
        untouched, which is the property that makes point-updates
        affordable on a 100 TB table (rewrite = touched files only,
        not the table). Null keys match nothing: a null-key target row
        is kept, a null-key source row is inserted.

        The source keys are read ONCE, up to ``MERGE_KEY_CAP`` of them
        (one bounded ``collect``). Within the cap, and for an integral
        or string key, Python does the rest of the planning from
        that list: the uniqueness check (two null keys are duplicates),
        the key bounds, the bloom probe and the match predicate, one SQL
        ``IN`` list. Spark then runs one provenance scan of the
        candidate files (``input_file_name`` of the rows the predicate
        keeps, the filter pushed into the parquet scan) and one
        shuffle-free write of the touched files' unmatched rows (plus
        ``source`` in update mode). Over the cap, or for another key
        type, the keys stay in Spark: one aggregate gives the
        uniqueness check and the bounds, and the match is a semi join
        (provenance) and an anti join (rewrite) against the distinct
        source keys.

        The provenance scan reads only candidate files, picked from the
        manifest: footer stats on the key column drop files whose
        [min,max] range misses the key bounds (needs ``key`` in
        ``stats_cols``), then, for collected keys and ``key`` in
        ``bloom_cols``, the per-file bloom drops files that hold none.

        Source must be unique on ``key`` (checked) and schema-aligned
        with the target in update mode. Commits through ``rewrite``, so
        a concurrent commit between planning and commit raises
        CommitConflict. Returns counts + the new version."""
        from pyspark.sql import functions as F

        if when_matched not in ("update", "delete"):
            raise ValueError("when_matched must be 'update' or 'delete'")
        key_col = source.select(key)
        render = _sql_literal(key_col.schema[0].dataType)
        rows = key_col.limit(MERGE_KEY_CAP + 1).collect()
        keys = [r[0] for r in rows] if len(rows) <= MERGE_KEY_CAP else None
        present = None if keys is None else [k for k in keys if k is not None]
        if present is not None and render is not None:
            dup = len(set(keys)) < len(keys)
            lo, hi = (min(present), max(present)) if present else (None, None)
            matched = F.expr(
                f"`{key.replace('`', '``')}` IN "
                f"({', '.join(render(k) for k in present)})"
            ) if present else F.lit(False)

            def file_hits(scan: DataFrame) -> DataFrame:
                return scan.where(matched).select(F.input_file_name())

            def unmatched(df: DataFrame) -> DataFrame:
                return df.where(~matched | F.col(key).isNull())
        else:
            dup, lo, hi = source.groupBy(key).count().agg(
                F.max("count") > 1, F.min(key), F.max(key)
            ).collect()[0]
            src_keys = key_col.distinct()

            def file_hits(scan: DataFrame) -> DataFrame:
                return (scan.select(key, F.input_file_name().alias("_f"))
                        .join(src_keys, key, "semi").select("_f").distinct())

            def unmatched(df: DataFrame) -> DataFrame:
                return df.join(src_keys, key, "anti")
        if dup:
            raise ValueError(f"source is not unique on {key}")
        planned_version = self.current_version()
        files = self.snapshot(planned_version)["files"]

        def may_match(f: dict) -> bool:
            st = f.get("stats", {}).get(key)
            if st is None or lo is None:
                return True  # no stats -> must scan
            return not (st[0] > hi or st[1] < lo)

        cand = [f for f in files if may_match(f)]
        # the bloom prune is decisive for point updates over interleaved
        # keys, where every file's [min,max] range covers every key
        if key in self.bloom_cols and present is not None:
            cand = [f for f in cand
                    if self._bloom_may_contain(f, key, present)]
        touched_paths: set = set()
        if cand:
            scan = read_parquet(self.spark, [f["path"] for f in cand])
            hit = {os.path.basename(r[0]) for r in file_hits(scan).collect()}
            touched_paths = {
                f["path"] for f in cand if os.path.basename(f["path"]) in hit
            }
        keep_files = [f for f in files if f["path"] not in touched_paths]

        new_data = source if when_matched == "update" else None
        if touched_paths:
            touched = read_parquet(self.spark, sorted(touched_paths))
            kept_rows = unmatched(touched)
            new_data = (kept_rows if new_data is None
                        else kept_rows.unionByName(new_data))
        v = self.rewrite(new_data, "merge", planned_version, keep_files)
        return {
            "version": v,
            "files_total": len(files),
            "files_candidate": len(cand),
            "files_rewritten": len(touched_paths),
            "files_carried": len(keep_files),
        }

    def compact(self, small_threshold_rows: int) -> dict:
        """Small-file compaction (the lakehouse OPTIMIZE bin-pack):
        rewrite files below ``small_threshold_rows`` into right-sized
        ones (one per ``small_threshold_rows`` rows); every large file
        carries into the new snapshot untouched. The weekly-crawl
        failure mode this exists for: thousands of stripe-sized commit
        files turning every scan's task list into driver pressure.

        Needs >= 2 small files to do anything (a lone small file
        cannot be packed tighter). Commits through ``rewrite``, like
        merge(). Returns counts + the new version (unchanged version
        on no-op)."""
        planned_version = self.current_version()
        files = self.snapshot(planned_version)["files"]
        small = [f for f in files if int(f["rows"]) < small_threshold_rows]
        if len(small) < 2:
            return {"version": planned_version, "files_compacted": 0,
                    "files_carried": len(files)}
        keep_files = [f for f in files if int(f["rows"]) >= small_threshold_rows]
        rows_small = sum(int(f["rows"]) for f in small)
        packed = read_parquet(
            self.spark, [f["path"] for f in small]
        ).repartition(max(1, rows_small // small_threshold_rows))
        v = self.rewrite(packed, "compact", planned_version, keep_files)
        return {"version": v, "files_compacted": len(small),
                "files_new": len(self.snapshot(v)["files"]) - len(keep_files),
                "files_carried": len(keep_files)}

    def changes(self, from_version: int,
                to_version: Optional[int] = None) -> DataFrame:
        """Change-data-feed between two snapshots (the Delta/Iceberg
        CDF shape): every row added since ``from_version`` tagged
        ``insert``, every row removed tagged ``delete`` (an update from
        merge() appears as its delete+insert pair — the engine stores
        no row ids, so that is the honest representation).

        File-diff first (manifest-only): rows in carried-over files
        never enter the comparison at all — the comparison reads ONLY
        the added/removed file sets, so a 3-file merge against a 100 TB
        table diffs 3 files, not the table. Rewritten files' carried
        rows cancel via exceptAll (multiset semantics — duplicate rows
        cancel one-for-one)."""
        from pyspark.sql import functions as F

        b, added = self._select(to_version, since=from_version)
        a, removed = self._select(from_version, since=b["version"])
        schema_from = b["files"] or a["files"]
        added_rows = self._scan(added, schema_from)
        removed_rows = self._scan(removed, schema_from)
        inserts = added_rows.exceptAll(removed_rows).withColumn(
            "_change_type", F.lit("insert")
        )
        deletes = removed_rows.exceptAll(added_rows).withColumn(
            "_change_type", F.lit("delete")
        )
        return inserts.unionByName(deletes)

    def rollback(self, version: int) -> int:
        """New snapshot re-pointing to an old file list (history intact)."""
        old = self.snapshot(version)["files"]
        return self._commit([], f"rollback-to-{version}", keep=old)

    def expire(self, keep_from_version: int) -> int:
        """Delete data files unreachable from snapshots >= the given one.

        Returns the number of files removed. Manifests are kept (cheap,
        and reads of expired versions fail loudly on the missing file)."""
        live = {
            f["path"] for snap in self._snapshots(keep_from_version)
            for f in snap["files"]
        }
        removed = 0
        for name in os.listdir(self.data_dir):
            p = os.path.join(self.data_dir, name)
            if name.endswith(".parquet") and p not in live:
                os.remove(p)
                removed += 1
        return removed

    # -- reads -------------------------------------------------------------

    def version_as_of(self, ts: float) -> int:
        """SQL ``AS OF TIMESTAMP`` resolution: the latest version whose
        commit timestamp is <= ``ts`` (0 = before any commit)."""
        best = 0
        for s in self._snapshots():
            if float(s["ts"]) <= ts:
                best = s["version"]
        return best

    def _select(
        self,
        version: Optional[int] = None,
        as_of_ts: Optional[float] = None,
        bbox: Optional[tuple] = None,
        bbox_cols: tuple = ("x", "y"),
        since: Optional[int] = None,
    ) -> tuple[dict, list[dict]]:
        """The snapshot a read targets (``version``, or the one current
        at ``as_of_ts``; the head by default) and the data files it
        scans: only those not already in snapshot ``since`` when given,
        minus those the manifest stats put outside ``bbox``."""
        if as_of_ts is not None:
            if version is not None:
                raise ValueError("pass version or as_of_ts, not both")
            version = self.version_as_of(as_of_ts)
            if version == 0:
                raise ValueError(
                    f"no snapshot committed at or before ts={as_of_ts}"
                )
        s = self.snapshot(version)
        files = s["files"]
        if since is not None:
            base = {f["path"] for f in self.snapshot(since)["files"]}
            files = [f for f in files if f["path"] not in base]
        if bbox is not None:
            files = [f for f in files if _overlaps(f, bbox, bbox_cols)]
        return s, files

    def _scan(self, files: list[dict], schema_from: list[dict]) -> DataFrame:
        """Spark scan of ``files``; with none, zero rows carrying the
        schema of the first file in ``schema_from``."""
        if files:
            return read_parquet(self.spark, [f["path"] for f in files])
        if not schema_from:
            raise ValueError("empty table and no snapshot schema")
        return read_parquet(self.spark, [schema_from[0]["path"]]).limit(0)

    def read(
        self,
        version: Optional[int] = None,
        bbox: Optional[tuple] = None,
        bbox_cols: tuple = ("x", "y"),
        as_of_ts: Optional[float] = None,
    ) -> DataFrame:
        """Scan a snapshot; ``bbox=(minx, miny, maxx, maxy)`` prunes whole
        files from the manifest stats before Spark plans the read.
        ``as_of_ts`` reads the table as of a wall-clock epoch second
        (mutually exclusive with ``version``)."""
        s, files = self._select(version, as_of_ts, bbox, bbox_cols)
        return self._scan(files, s["files"])

    def incremental_read(
        self,
        from_version: int,
        to_version: Optional[int] = None,
        bbox: Optional[tuple] = None,
        bbox_cols: tuple = ("x", "y"),
    ) -> DataFrame:
        """Scan ONLY the data files added after ``from_version`` (the
        Iceberg incremental-append pattern): a consumer that checkpointed
        "processed through v3" resumes by reading the v3→head file DIFF
        — never rescanning the processed 100 TB. Composes with the bbox
        footer-stats prune. Files REMOVED since from_version (overwrite/
        rollback) are the consumer's signal to recompute; this scan is
        append-diff only."""
        s, files = self._select(to_version, bbox=bbox, bbox_cols=bbox_cols,
                                since=from_version)
        return self._scan(files, s["files"] or self.snapshot()["files"])

    def pruned_count(self, bbox: tuple, version: Optional[int] = None,
                     bbox_cols: tuple = ("x", "y")) -> tuple[int, int]:
        """(files read, files total) for a bbox — pruning evidence: the
        files ``read(version=version, bbox=bbox)`` hands Spark."""
        s, files = self._select(version, bbox=bbox, bbox_cols=bbox_cols)
        return len(files), len(s["files"])
