"""Output checks: row counts and order-independent digests of exports.

A digest is the sum, modulo 2**64, of a 64-bit hash of every row in a
canonical JSON form, so it does not depend on row order or file split.
``Pinned`` remembers the first digest seen for a key (workload, seed,
output) in a state file and flags any later mismatch.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

MASK = (1 << 64) - 1


def _h(canon: str) -> int:
    return int.from_bytes(hashlib.blake2b(canon.encode(), digest_size=8).digest(), "big")


def _canon(row: dict) -> str:
    return json.dumps(row, sort_keys=True, separators=(",", ":"))


def jsonl_rows(path: str):
    """Every row of every ``*.json`` file under ``path``."""
    for f in sorted(glob.glob(os.path.join(path, "**", "*.json"), recursive=True)):
        with open(f) as fh:
            for line in fh:
                yield json.loads(line)


def jsonl_digest(path: str) -> tuple[int, int]:
    """(rows, digest) of a JSONL output directory."""
    rows, digest = 0, 0
    for row in jsonl_rows(path):
        digest = (digest + _h(_canon(row))) & MASK
        rows += 1
    return rows, digest


class Pinned:
    """First-seen digests per key, kept in a JSON file across runs."""

    def __init__(self, path: str):
        self.path = path
        try:
            with open(path) as fh:
                self.seen = json.load(fh)
        except (OSError, ValueError):
            self.seen = {}

    def check(self, key: str, value) -> bool:
        value = json.loads(json.dumps(value))
        if key not in self.seen:
            self.seen[key] = value
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            with open(self.path, "w") as fh:
                json.dump(self.seen, fh, indent=1, sort_keys=True)
            return True
        return self.seen[key] == value
