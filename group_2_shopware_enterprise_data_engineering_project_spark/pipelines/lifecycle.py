"""K10 — post-commit file lifecycle: archive processed inputs, then
delete them from the landing zone.

Reference parity: after a successful transform, the reference copies
input files to an archive bucket under a date prefix extracted from the
filename, then deletes the source (reference transfom_pos.py:56-110
pos csvs; inventory_transform.py:294-381 raw zone;
lambda_module.py:252-310 event files). These are object-store control
operations, not dataflow — they stay OUTSIDE the query engine here
too, as a post-commit hook the pipelines call after their write
succeeds. Order matters: copy-then-delete, so a crash mid-archive
leaves duplicates (at-least-once), never loses inputs.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass, field

# pos_YYYYMMDD_HHMMSS.csv -> date (reference transfom_pos.py:80-87)
FILENAME_DATE_RE = re.compile(r"_(\d{4})(\d{2})(\d{2})_")


@dataclass
class ArchiveResult:
    archived: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)


def archive_processed(
    src_dir: str,
    archive_dir: str,
    suffix: str = ".csv",
) -> ArchiveResult:
    """Move processed input files to `archive_dir/date=YYYY-MM-DD/`,
    date taken from the filename; files without a parseable date are
    left in place (and reported), mirroring the reference's
    skip-and-log behavior."""
    result = ArchiveResult()
    for name in sorted(os.listdir(src_dir)):
        src = os.path.join(src_dir, name)
        if not os.path.isfile(src) or not name.endswith(suffix):
            continue
        m = FILENAME_DATE_RE.search(name)
        if not m:
            result.skipped.append(name)
            continue
        date = f"{m.group(1)}-{m.group(2)}-{m.group(3)}"
        dest_dir = os.path.join(archive_dir, f"date={date}")
        os.makedirs(dest_dir, exist_ok=True)
        shutil.move(src, os.path.join(dest_dir, name))
        result.archived.append(name)
    return result
