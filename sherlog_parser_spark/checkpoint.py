"""Per-partition checkpoint manifest with lineage + metrics.

Modeled on the reference's only resumable construct — the eval-pipeline
JSON result cache (src/eval/eval_pipeline.py:99-107,139-145) and metrics
sink (src/core/metrics.py:84-113) — generalized to partition-group
granularity: the route stage commits work in conv-bucket groups; each
committed group appends a manifest entry

    {unit, rows, input_fingerprint, sink, wall_sec, committed_at}

A re-run with the same manifest skips committed units and produces
byte-identical sink contents (tested).  At cluster scale each unit is an
independent Spark job over a hash-pruned slice, so a failed run loses at
most one unit's work.

Every entry is one line written with its newline, so a last line without
one is an append cut short by a crash: ``load`` skips it as uncommitted
and the next append cuts it off.
"""

from __future__ import annotations

import json
import logging
import os
import time
from dataclasses import dataclass, field


RUN_HEADER_UNIT = "_run"

_log = logging.getLogger(__name__)


@dataclass
class CheckpointManifest:
    path: str
    entries: dict[str, dict] = field(default_factory=dict)
    run_header: dict | None = None

    @classmethod
    def load(cls, path: str) -> "CheckpointManifest":
        m = cls(path=path)
        if os.path.exists(path):
            with open(path) as f:
                *lines, torn = f.read().split("\n")
            if torn.strip():
                _log.warning("skipping torn last record of %s: %r", path, torn)
            for line in lines:
                line = line.strip()
                if line:
                    e = json.loads(line)  # a corrupt terminated line still raises
                    if e["unit"] == RUN_HEADER_UNIT:
                        m.run_header = e
                    else:
                        m.entries[e["unit"]] = e
        return m

    def run_fingerprint(self) -> str | None:
        return (self.run_header or {}).get("run_fingerprint")

    def commit_run(self, run_fingerprint: str) -> None:
        """Append the run-identity header (input plan + params hash).
        Resume refuses to mix groups across differing headers."""
        entry = {
            "unit": RUN_HEADER_UNIT,
            "run_fingerprint": run_fingerprint,
            "committed_at": time.time(),
        }
        self.run_header = entry
        self._append(entry)

    def is_committed(self, unit: str) -> bool:
        return unit in self.entries

    def commit(self, unit: str, rows: int, input_fingerprint: str, sink: str, wall_sec: float) -> None:
        entry = {
            "unit": unit,
            "rows": rows,
            "input_fingerprint": input_fingerprint,
            "sink": sink,
            "wall_sec": round(wall_sec, 4),
            "committed_at": time.time(),
        }
        self.entries[unit] = entry
        self._append(entry)

    def _append(self, entry: dict) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path, "a+b") as f:
            f.seek(0)
            body = f.read()
            if not body.endswith(b"\n"):
                # cut the torn record load skipped, so this entry starts
                # on a fresh line instead of being glued onto it
                f.truncate(body.rfind(b"\n") + 1)
            f.write((json.dumps(entry) + "\n").encode())

    def metrics(self) -> dict:
        # wall_sec: union of the units' [committed_at - wall_sec, committed_at]
        # intervals, since concurrently written units overlap
        wall, end = 0.0, float("-inf")
        for e in sorted(self.entries.values(), key=lambda u: u["committed_at"] - u["wall_sec"]):
            lo, hi = e["committed_at"] - e["wall_sec"], e["committed_at"]
            wall, end = wall + max(0.0, hi - max(lo, end)), max(end, hi)
        return {
            "units": len(self.entries),
            "rows": sum(e["rows"] for e in self.entries.values()),
            "wall_sec": round(wall, 4),
        }
