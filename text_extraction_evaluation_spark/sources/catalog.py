"""Local table catalog with atomic manifest commits — the Iceberg seam.

BASELINE.json:14 requires resumable runs over an Iceberg table with
per-partition lineage. No Iceberg runtime jar exists in this sandbox
(SURVEY.md Appendix C), so the catalog implements the three operations
the pipeline uses on plain parquet dirs, and nothing else:

1. **atomic append commits** (``commit_append``): a chunk directory
   becomes visible only when the JSON manifest is atomically replaced
   (tmp + os.replace) — readers never see partial writes, re-running a
   failed chunk is idempotent (same chunk_id -> skip);
2. **snapshot reads** (``read``): loads exactly the chunks the
   manifest names, never a directory listing. A chunk's path is
   derived from the root, the table and its id (``chunk_path``), never
   stored, so a root copied or moved elsewhere reads its own files.
   Each commit records its chunk's schema in the manifest, so a read is
   typed from the manifest and launches no parquet-footer inference
   job (legacy chunks without a recorded schema fall back to
   inference);
3. **orphan cleanup** (``vacuum``): removes every chunk dir the
   manifest does not name — the staging dirs of a hard-killed write
   and the published-but-unrecorded dir of a commit killed between its
   rename and its manifest store.

Opening a catalog creates nothing on disk; the first commit creates
the table's directory.

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
            manifest["chunks"][chunk_id] = {
                "committed_at_unix": time.time(),
                **(meta or {}),
            }
            self._store_manifest(table, manifest)
        return True

    def vacuum(self, table: str) -> list[str]:
        """Remove every ``chunk=<id>`` dir whose ``<id>`` is not a
        committed chunk id (Iceberg's remove_orphan_files analogue):
        staging dirs of hard-killed writes, and the dir of a commit
        killed between its rename and its manifest store, which a rerun
        with other buckets never commits again. Decided by id, like
        every read, so a catalog opened under another root never loses
        committed data. Run only while no writer is active on
        ``table``: an in-flight commit's dirs look like orphans.
        Returns the removed paths."""
        import shutil

        tdir = self.root / table
        removed: list[str] = []
        if not tdir.is_dir():
            return removed
        with self._commit_lock:
            committed = self.committed_chunks(table)
            for p in sorted(tdir.glob("chunk=*")):
                if p.name.removeprefix("chunk=") not in committed:
                    shutil.rmtree(p, ignore_errors=True)
                    removed.append(str(p))
        return removed

    def read(self, spark: SparkSession, table: str) -> DataFrame | None:
        """Snapshot read of the committed chunks, in the order the
        manifest lists them (None if no commits). Typed by the recorded
        schema when every chunk carries the same one; otherwise (legacy
        manifest, or chunks that disagree) parquet infers it from the
        footers."""
        chunks = self.committed_chunks(table)
        if not chunks:
            return None
        schemas = {c.get("schema") for c in chunks.values()}
        reader = spark.read
        if len(schemas) == 1 and None not in schemas:
            reader = reader.schema(StructType.fromJson(json.loads(schemas.pop())))
        return reader.parquet(*[self.chunk_path(table, cid) for cid in chunks])
