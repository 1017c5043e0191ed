"""Per-partition checkpoint / lineage / metrics rows (north rule:
"resumable from checkpoint with per-partition lineage + metrics").

Schema per FIXTURES.md §6: one row per (table, partition) recording the
input snapshot it was computed from, row counts in/out, wall time, and
status. A job step is skipped when a `done` row exists for the same
(table, partition, input_snapshot_id); a re-run after a kill therefore
recomputes only missing/failed partitions and, because table writes go
through dynamic partition overwrite, produces byte-identical tables.

The checkpoint table itself is stored as one JSON line per row under
``<root>/_checkpoints/<table>/`` — append-only, last-write-wins per
(partition_id, snapshot), crash-safe via write-then-rename (the same
discipline the reference used for its file backends,
FileStorage.scala:211-233). Data files follow the same discipline:
the catalogs' Arrow writer (io/tables.py::write_files) writes them
aside, and the driver publishes only the files the job reports — by
rename in the directory catalog, by manifest in the snapshot catalog.
"""

from __future__ import annotations

import json
import os
import time
import uuid


class CheckpointStore:
    def __init__(self, root: str):
        self.root = os.path.join(root, "_checkpoints")

    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _load(self, table: str) -> dict[str, dict]:
        """partition_id -> latest row (by updated_at_ms)."""
        d = self._dir(table)
        state: dict[str, dict] = {}
        if not os.path.exists(d):
            return state
        for fn in sorted(os.listdir(d)):
            if not fn.endswith(".json"):
                continue
            try:
                with open(os.path.join(d, fn)) as f:
                    row = json.load(f)
            except (json.JSONDecodeError, OSError):
                continue  # torn write from a crash: ignore
            cur = state.get(row["partition_id"])
            if cur is None or row["updated_at_ms"] >= cur["updated_at_ms"]:
                state[row["partition_id"]] = row
        return state

    def done_partitions(self, table: str, input_snapshot_id: str) -> set[str]:
        return {
            pid
            for pid, row in self._load(table).items()
            if row["status"] == "done"
            and row["input_snapshot_id"] == input_snapshot_id
        }

    def record(
        self,
        table: str,
        partition_id: str,
        input_snapshot_id: str,
        rows_in: int,
        rows_out: int,
        wall_ms: int,
        status: str = "done",
    ) -> None:
        d = self._dir(table)
        os.makedirs(d, exist_ok=True)
        row = {
            "table_name": table,
            "partition_id": partition_id,
            "input_snapshot_id": input_snapshot_id,
            "rows_in": rows_in,
            "rows_out": rows_out,
            "wall_ms": wall_ms,
            "status": status,
            "updated_at_ms": int(time.time() * 1000),
        }
        tmp = os.path.join(d, f".{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(row, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(d, f"{uuid.uuid4().hex}.json"))

    def metrics(self, table: str) -> list[dict]:
        """All latest rows — the observability surface."""
        return sorted(self._load(table).values(), key=lambda r: r["partition_id"])
