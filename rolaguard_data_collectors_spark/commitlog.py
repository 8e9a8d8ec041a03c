"""Append-only commit-log write shared by the exactly-once sinks that
publish to plain files (QueueFileSink, the incremental-dedup sink);
the snapshot-table sinks record epochs in their manifests instead.

The one subtle failure mode of a newline-framed log (round-9 review
find): a commit that crashes MID-WRITE leaves the file ending without
a newline, and a later bare append concatenates its record into the
torn bytes — torn ``7`` + ``8\\n`` becomes ``78\\n``, a spurious
future-epoch record that the sink would later treat as committed and
silently skip (data loss), or a garbled line that poisons a VALID
earlier record. Starting the append with a newline whenever the
current last byte isn't one confines any tear to its own line, where
the parser's torn-line handling (skip, or — for formats whose records
are safe to accept truncated — prefix-parse) stays sound.
"""

from __future__ import annotations

import os


def append_commit_line(path: str, line: str) -> None:
    """Append ``line`` + newline, self-healing a torn previous record
    and fsyncing before returning."""
    lead = ""
    try:
        with open(path, "rb") as fh:
            fh.seek(-1, os.SEEK_END)
            if fh.read(1) != b"\n":
                lead = "\n"
    except (OSError, ValueError):
        pass  # absent or empty log
    with open(path, "a", encoding="utf-8") as fh:
        fh.write(lead + line + "\n")
        fh.flush()
        os.fsync(fh.fileno())
