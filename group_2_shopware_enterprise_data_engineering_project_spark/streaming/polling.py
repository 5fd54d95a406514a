"""S6 — polling ingestion front-end for the file micro-batch source.

The reference ingests by polling an HTTP API and buffer-flushing
NDJSON batches to object storage on "100 records OR 10 seconds,
whichever first" (reference api.py:22-23, upload_ndjson_to_s3,
has_required_ids), which Structured Streaming then discovers as files.
This module is that front-end re-expressed engine-side and
network-free: any ``poll() -> list[dict]`` callable (an HTTP client in
production, a generator in tests) feeds a buffered NDJSON writer whose
output directory IS a ``stream_json_source`` input. Records missing
required identity fields divert to a reject directory before
buffering — the same pre-stream DLQ split the reference does before
Kinesis.

Ingestion is out-of-engine by nature (SURVEY S6); what belongs to the
engine — and what the tests pin — is the flush contract (size OR age,
whichever first), the reject split, and that flushed files are
immediately consumable micro-batches. The clock is injectable so the
time-bound half is tested deterministically, not with sleeps.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Iterable


class BufferedNdjsonWriter:
    """Buffer records; flush as one NDJSON file per batch when either
    ``batch_size`` records accumulate or the oldest buffered record is
    ``batch_seconds`` old (reference api.py:22-23). File names are a
    monotonic sequence, so arrival order == lexicographic order ==
    the maxFilesPerTrigger replay order."""

    def __init__(
        self,
        out_dir: str,
        reject_dir: str | None = None,
        batch_size: int = 100,
        batch_seconds: float = 10.0,
        required_fields: tuple[str, ...] = (),
        clock: Callable[[], float] = time.monotonic,
    ):
        self.out_dir = out_dir
        self.reject_dir = reject_dir
        self.batch_size = batch_size
        self.batch_seconds = batch_seconds
        self.required_fields = required_fields
        self.clock = clock
        self._buf: list[dict] = []
        self._rejects: list[dict] = []
        self._oldest: float | None = None
        self._seq = 0
        os.makedirs(out_dir, exist_ok=True)
        if reject_dir:
            os.makedirs(reject_dir, exist_ok=True)

    def add(self, record: dict) -> None:
        """Route one polled record: reject if any required identity
        field is missing/None (reference has_required_ids), else
        buffer; flush if either bound tripped."""
        if any(record.get(f) is None for f in self.required_fields):
            self._rejects.append(record)
        else:
            if not self._buf:
                self._oldest = self.clock()
            self._buf.append(record)
        self.maybe_flush()

    def add_all(self, records: Iterable[dict]) -> None:
        for r in records:
            self.add(r)

    def _due(self) -> bool:
        if len(self._buf) >= self.batch_size:
            return True
        return (
            bool(self._buf)
            and self._oldest is not None
            and self.clock() - self._oldest >= self.batch_seconds
        )

    def _write(self, rows: list[dict], directory: str) -> str:
        self._seq += 1
        # write-then-rename so the streaming file source never lists a
        # half-written batch (its directory listing is the commit point)
        path = os.path.join(directory, f"batch-{self._seq:08d}.ndjson")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.replace(tmp, path)
        return path

    def maybe_flush(self, force: bool = False) -> list[str]:
        """Flush whichever buffers are due; returns written paths."""
        out = []
        if self._buf and (force or self._due()):
            out.append(self._write(self._buf, self.out_dir))
            self._buf, self._oldest = [], None
        if self._rejects and force and self.reject_dir:
            out.append(self._write(self._rejects, self.reject_dir))
            self._rejects = []
        return out

    def close(self) -> list[str]:
        return self.maybe_flush(force=True)


def run_polling_loop(
    poll: Callable[[], list[dict]],
    writer: BufferedNdjsonWriter,
    n_polls: int,
) -> None:
    """The reference's poll loop (api.py main): poll, buffer, flush on
    the writer's bounds; final drain on exit. ``n_polls`` bounds the
    loop (production would run forever); pacing belongs to ``poll``."""
    for _ in range(n_polls):
        writer.add_all(poll())
    writer.close()
