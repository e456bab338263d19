"""Per-partition checkpoint manifests: resume + lineage + metrics.

Parity anchor: the reference's file-existence checkpointing —
``yatsm line --resume`` skips rows whose ``yatsm_r{row}.npz`` exists
(yatsm/cli/line.py [H], SURVEY.md §3.1) — hardened per SURVEY.md §4:
instead of bare file existence, each completed bucket gets an atomically
written JSON manifest recording

    bucket, stage, input_fingerprint, rows_out, wall_ms, engine_version,
    extra metrics

Resume = skip buckets whose manifest exists AND matches the current input
fingerprint (the analogue of yatsm/cache.py::update_cache_file's image-ID
consistency check [H]). A changed input invalidates the bucket, exactly
like the reference's cache reconcile. Manifests double as the per-partition
lineage + metrics emission required by BASELINE.json::north_rule.
"""

from __future__ import annotations

import json
import os
import time

from yatsm_spark import __version__


class CheckpointManager:
    def __init__(self, root: str):
        self.root = os.path.join(root, "_manifests")
        os.makedirs(self.root, exist_ok=True)

    def _path(self, stage: str, bucket: int) -> str:
        return os.path.join(self.root, f"{stage}_bucket{bucket:05d}.json")

    def is_done(self, stage: str, bucket: int, input_fingerprint: str) -> bool:
        p = self._path(stage, bucket)
        if not os.path.exists(p):
            return False
        try:
            with open(p) as f:
                m = json.load(f)
        except (json.JSONDecodeError, OSError):
            return False
        return m.get("input_fingerprint") == input_fingerprint and m.get("complete") is True

    def commit(self, stage: str, bucket: int, input_fingerprint: str,
               rows_out: int, wall_ms: float, **metrics) -> dict:
        m = {
            "stage": stage,
            "bucket": bucket,
            "input_fingerprint": input_fingerprint,
            "rows_out": rows_out,
            "wall_ms": round(wall_ms, 1),
            "engine_version": __version__,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "complete": True,
            **metrics,
        }
        p = self._path(stage, bucket)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, p)  # atomic on POSIX
        return m

    def drop(self, stage: str, bucket: int) -> None:
        p = self._path(stage, bucket)
        if os.path.exists(p):
            os.remove(p)

    def manifests(self, stage: str | None = None) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.root)):
            if not name.endswith(".json"):
                continue
            if stage and not name.startswith(stage + "_"):
                continue
            with open(os.path.join(self.root, name)) as f:
                out.append(json.load(f))
        return out
