"""Local table catalog with atomic manifest commits — the Iceberg seam.

BASELINE.json:14 requires resumable runs over an Iceberg table with
per-partition lineage. No Iceberg runtime jar exists in this sandbox
(SURVEY.md Appendix C), so the catalog abstracts the two properties the
pipeline actually relies on and implements them on plain parquet dirs:

1. **atomic append commits**: a chunk directory becomes visible only
   when the JSON manifest is atomically replaced (tmp + os.replace) —
   readers never see partial writes, re-running a failed chunk is
   idempotent (same chunk_id -> skip);
2. **snapshot reads**: ``read()`` loads exactly the committed chunk
   paths from the manifest, never a directory listing. Each commit
   records its chunk's schema in the manifest, so a read is typed from
   the manifest and launches no parquet-footer inference job (legacy
   chunks without a recorded schema fall back to inference).

Swapping in Iceberg later = replacing this class with
``df.writeTo(table).append()`` + snapshot reads; call sites are
unchanged (plans/jobs.py).
"""

from __future__ import annotations

import json
import os
import threading
import time
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class LocalCatalog:
    def __init__(self, root: str | os.PathLike) -> None:
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        # serializes the manifest read-modify-write for concurrent chunk
        # commits from one driver (plans/jobs.py thread pool). Scope is
        # per-process by design: Iceberg's optimistic-concurrency commit
        # replaces this when multiple drivers share a table.
        self._commit_lock = threading.Lock()

    # -- manifest ------------------------------------------------------------
    def _manifest_path(self, table: str) -> Path:
        return self.root / table / "_manifest.json"

    def _load_manifest(self, table: str) -> dict[str, Any]:
        p = self._manifest_path(table)
        if not p.exists():
            return {"table": table, "chunks": {}}
        with open(p) as f:
            return json.load(f)

    def _store_manifest(self, table: str, manifest: dict[str, Any]) -> None:
        p = self._manifest_path(table)
        p.parent.mkdir(parents=True, exist_ok=True)
        tmp = p.with_suffix(".json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, p)  # atomic on POSIX

    # -- public API ----------------------------------------------------------
    def committed_chunks(self, table: str) -> dict[str, dict[str, Any]]:
        return self._load_manifest(table)["chunks"]

    def is_committed(self, table: str, chunk_id: str) -> bool:
        return chunk_id in self.committed_chunks(table)

    def chunk_path(self, table: str, chunk_id: str) -> str:
        return str(self.root / table / f"chunk={chunk_id}")

    def commit_append(
        self,
        df: DataFrame,
        table: str,
        chunk_id: str,
        meta: dict[str, Any] | None = None,
    ) -> bool:
        """Write ``df`` as one chunk and commit it. Returns False if the
        chunk was already committed (idempotent re-run).

        The parquet write goes to a caller-unique staging directory and
        is RENAMED to the committed path inside the manifest lock: two
        concurrent callers with the same chunk_id would otherwise race
        on the final directory, and the manifest winner could end up
        holding the loser's half-written files (ADVICE r2). The rename
        is a same-filesystem directory move, so the committed path
        appears atomically; the losing staging dir is discarded."""
        import shutil
        import uuid

        if self.is_committed(table, chunk_id):
            return False
        path = self.chunk_path(table, chunk_id)
        staging = f"{path}.staging-{uuid.uuid4().hex}"
        try:
            df.write.mode("overwrite").parquet(staging)
            meta = {**(meta or {}), "schema": df.schema.json()}
            committed = self._publish(table, chunk_id, path, staging, meta)
        finally:
            # a failed attempt (write error, publish error) must not
            # leak its uniquely-named staging dir; hard process kills
            # can still orphan one — vacuum() reclaims those
            shutil.rmtree(staging, ignore_errors=True)
        return committed

    def _publish(
        self,
        table: str,
        chunk_id: str,
        path: str,
        staging: str,
        meta: dict[str, Any] | None,
    ) -> bool:
        import shutil

        with self._commit_lock:
            manifest = self._load_manifest(table)
            if chunk_id in manifest["chunks"]:
                return False
            # a previous FAILED attempt may have left partial files at
            # the final path; they were never committed, so clobbering
            # is safe
            shutil.rmtree(path, ignore_errors=True)
            os.replace(staging, path)
            # monotonic commit sequence: wall-clock alone cannot order
            # two commits inside one clock tick (concurrent chunks) or
            # across a clock step — time travel sorts on seq
            seq = 1 + max(
                (c.get("seq", 0) for c in manifest["chunks"].values()), default=0
            )
            manifest["chunks"][chunk_id] = {
                "path": path,
                "seq": seq,
                "committed_at_unix": time.time(),
                **(meta or {}),
            }
            self._store_manifest(table, manifest)
        return True

    def vacuum(self, table: str) -> list[str]:
        """Remove orphaned ``chunk=*.staging-*`` directories left by
        hard-killed commit attempts (the LocalCatalog analogue of
        Iceberg's remove_orphan_files). Committed data is never touched
        — staging dirs are by construction unreferenced by the
        manifest. Run only while no writer is active on ``table``: a
        concurrent in-flight commit's staging dir is indistinguishable
        from an orphan. Returns the removed paths."""
        import shutil

        tdir = self.root / table
        removed: list[str] = []
        if not tdir.is_dir():
            return removed
        with self._commit_lock:
            for p in sorted(tdir.glob("chunk=*.staging-*")):
                shutil.rmtree(p, ignore_errors=True)
                removed.append(str(p))
        return removed

    def read(
        self, spark: SparkSession, table: str, as_of: int | None = None
    ) -> DataFrame | None:
        """Snapshot read of committed chunks (None if no commits).

        ``as_of=k`` reads the table AS OF its k-th commit (time travel
        on commit order — the LocalCatalog analogue of Iceberg's
        ``VERSION AS OF``): only chunks committed by version k AND not
        retired by a compaction at or before version k are visible —
        exactly what a reader at that point saw, because the manifest
        is replaced atomically per commit. Pre-compaction versions
        read the original chunks until ``expire_retired``."""
        ordered = self._ordered_chunks(table)
        if as_of is None:
            vis = [c for c, _eff in ordered if "retired_seq" not in c]
        else:
            vis = [
                c
                for c, eff in ordered
                if eff <= as_of and c.get("retired_seq", as_of + 1) > as_of
            ]
        if not vis:
            return None
        return _scan(spark, vis)

    def _ordered_chunks(self, table: str) -> list[tuple[dict[str, Any], int]]:
        """Committed chunks in commit order, each with its EFFECTIVE
        version number: the stored monotonic ``seq``, or the 1-based
        commit position for legacy manifests written before seq."""
        chunks = self.committed_chunks(table)
        ordered = sorted(
            chunks.values(),
            key=lambda c: (c.get("seq", 0), c["committed_at_unix"]),
        )
        return [(c, c.get("seq", i + 1)) for i, c in enumerate(ordered)]

    def read_diff(
        self, spark: SparkSession, table: str, from_version: int, to_version: int
    ) -> DataFrame | None:
        """Incremental snapshot diff: the rows ADDED between commit
        ``from_version`` (exclusive) and ``to_version`` (inclusive) —
        the LocalCatalog analogue of Iceberg's incremental append scan
        (``start-snapshot-id``/``end-snapshot-id``). Because chunks are
        append-only and immutable once committed, the diff is exactly
        the chunk files in that commit-order window — no row-level
        comparison, no read of the earlier snapshot. This is the
        change-data feed a downstream consumer (index refresh,
        incremental dedup, mix rebuild) tails instead of re-reading
        the table. Compaction chunks are SKIPPED — a rewrite adds no
        rows, so the feed must not replay them (Iceberg's incremental
        append scan makes the same exclusion for replace snapshots).
        Returns None if the window holds no chunks."""
        if to_version <= from_version:
            return None
        window = [
            c
            for c, eff in self._ordered_chunks(table)
            if from_version < eff <= to_version and "compacted_from" not in c
        ]
        if not window:
            return None
        return _scan(spark, window)

    def compact(
        self,
        spark: SparkSession,
        table: str,
        chunk_id: str,
        chunk_ids: list[str] | None = None,
        n_output_files: int = 1,
    ) -> bool:
        """Rewrite committed chunks into one compacted chunk — the
        LocalCatalog analogue of Iceberg's ``rewrite_data_files``
        (small-file compaction). Long-running chunked jobs accrete many
        small parquet dirs; readers pay per-file open cost, so
        maintenance rewrites them into few large files WITHOUT changing
        table contents or destroying history:

        * the rewrite targets a FIXED chunk set (``chunk_ids``, default
          = the chunks live when the call started) — chunks committed
          concurrently with the rewrite are untouched and stay live;
        * the swap is ONE atomic manifest replace: readers see either
          all originals or the compacted chunk, never both;
        * retired chunks keep their files and manifest entries (with
          ``retired_seq``) so ``read(as_of=...)`` of pre-compaction
          versions still works — until ``expire_retired`` (the
          ``expire_snapshots`` analogue) reclaims them;
        * ``read_diff`` skips compaction chunks: a rewrite adds no
          rows, so the change-data feed must not replay them.

        Returns False (no-op) when fewer than 2 target chunks exist or
        the output chunk_id is taken."""
        import shutil
        import uuid

        live = {
            cid: c
            for cid, c in self.committed_chunks(table).items()
            if "retired_seq" not in c
        }
        targets = sorted(chunk_ids) if chunk_ids is not None else sorted(live)
        targets = [cid for cid in targets if cid in live]
        if len(targets) < 2 or chunk_id in self.committed_chunks(table):
            return False
        df = _scan(spark, [live[cid] for cid in targets])
        path = self.chunk_path(table, chunk_id)
        staging = f"{path}.staging-{uuid.uuid4().hex}"
        try:
            df.coalesce(n_output_files).write.mode("overwrite").parquet(staging)
            with self._commit_lock:
                manifest = self._load_manifest(table)
                if chunk_id in manifest["chunks"]:
                    return False
                # a target retired/vacuumed since the read started
                # would make the rewrite stale — abort, caller retries
                for cid in targets:
                    c = manifest["chunks"].get(cid)
                    if c is None or "retired_seq" in c:
                        return False
                shutil.rmtree(path, ignore_errors=True)
                os.replace(staging, path)
                seq = 1 + max(
                    (c.get("seq", 0) for c in manifest["chunks"].values()),
                    default=0,
                )
                for cid in targets:
                    manifest["chunks"][cid]["retired_seq"] = seq
                manifest["chunks"][chunk_id] = {
                    "path": path,
                    "seq": seq,
                    "committed_at_unix": time.time(),
                    "compacted_from": targets,
                    "schema": df.schema.json(),
                }
                self._store_manifest(table, manifest)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return True

    def expire_retired(self, table: str) -> list[str]:
        """Drop retired (compacted-away) chunks: delete their data dirs
        and manifest entries — the ``expire_snapshots`` analogue.
        Pre-compaction ``as_of`` versions become unreadable (they
        return the post-compaction visible set instead), exactly the
        trade Iceberg makes. Returns the removed chunk paths."""
        import shutil

        removed: list[str] = []
        with self._commit_lock:
            manifest = self._load_manifest(table)
            for cid in sorted(manifest["chunks"]):
                if "retired_seq" in manifest["chunks"][cid]:
                    c = manifest["chunks"].pop(cid)
                    shutil.rmtree(c["path"], ignore_errors=True)
                    removed.append(c["path"])
            if removed:
                self._store_manifest(table, manifest)
        return removed


def _scan(spark: SparkSession, chunks: list[dict[str, Any]]) -> DataFrame:
    """Read committed chunks, typed by their recorded schema when every
    chunk carries the same one; otherwise (legacy manifest, or chunks
    that disagree) let parquet infer it from the footers."""
    schemas = {c.get("schema") for c in chunks}
    reader = spark.read
    if len(schemas) == 1 and None not in schemas:
        reader = reader.schema(StructType.fromJson(json.loads(schemas.pop())))
    return reader.parquet(*[c["path"] for c in chunks])
