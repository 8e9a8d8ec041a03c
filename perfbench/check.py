"""Output checks. Envelopes are compared as multisets of JSON lines
with the wall-clock ``ts`` field removed; every envelope missing from
or extra to the reference is one failure."""

from __future__ import annotations

import glob
import json
import os
import re
from collections import Counter

_TS_TAIL = re.compile(r',"ts":-?\d+}$')


def strip_ts(line: str) -> str:
    """The envelope without its processing-time ``ts`` field."""
    line = line.rstrip("\n")
    if _TS_TAIL.search(line):
        return _TS_TAIL.sub("}", line)
    env = json.loads(line)
    if isinstance(env, dict):
        env.pop("ts", None)
    return json.dumps(env, separators=(",", ":"))


def read_lines(paths) -> list[str]:
    out = []
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            out.extend(line for line in fh if line.strip())
    return out


def text_output(path: str) -> list[str]:
    """Lines of a Spark ``write.text`` directory."""
    return read_lines(sorted(glob.glob(os.path.join(path, "part-*"))))


def compare(got: list[str], want: list[str]) -> tuple[int, int]:
    """(missing, extra): envelopes of ``want`` absent from ``got``, and
    envelopes of ``got`` absent from ``want``, counted with
    multiplicity (a duplicate is one extra)."""
    g = Counter(strip_ts(x) for x in got)
    w = Counter(strip_ts(x) for x in want)
    return sum((w - g).values()), sum((g - w).values())
