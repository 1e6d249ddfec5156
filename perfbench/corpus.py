"""Seeded log lines and the key that makes every delivered record
countable.

Every generated line starts with a fixed 33-byte header::

    <seq: 11 digits><flag: 'A' or 'R'><created_ns: 19 digits><2 spaces>

33 bytes is a whole number of base64 groups, so once the pipeline has
serialized the line (``to_json`` renders the binary ``message`` as
base64) the header is exactly the first 44 base64 characters of the
message and decodes without touching the rest.  ``R`` marks a record
the benchmark transport refuses once (the PutRecords partial-failure
shape); the flag byte is the last of the header's fourth base64 group,
so the transport reads it as one character: ``'S'`` for ``R``.
"""

from __future__ import annotations

import base64
import os
import random
from dataclasses import dataclass

import numpy as np

HEADER_BYTES = 33
HEADER_B64 = 44
REFUSE_FLAG = b"R"[0]
REFUSE_FLAG_B64 = b"S"[0]       # base64 char carrying the flag byte
FLAG_B64_POS = 15
REFUSE_SHARE = 0.01             # lines the transport refuses once

_LEVELS = ("INFO", "INFO", "INFO", "DEBUG", "WARN", "ERROR")
_WORDS = (
    "request", "served", "cache", "miss", "upstream", "timeout",
    "route", "/v2/apps", "status=200", "status=404", "status=503",
    "bytes_sent=", "gorouter", "diego", "cell", "container", "health",
    "check", "passed", "failed", "retry", "uaa", "token", "issued",
    "x_forwarded_for=", "vcap_request_id=", "app_id=", "instance=",
    "response_time=", "GET", "POST", "PUT", "DELETE", "HTTP/1.1",
)


def header(seq: int, created_ns: int, refuse: bool) -> bytes:
    return (f"{seq:011d}{'R' if refuse else 'A'}{created_ns:019d}  "
            .encode("ascii"))


def text_pool(rng: random.Random, size: int = 1 << 16) -> bytes:
    """Newline-free log-shaped text; line bodies are slices of it."""
    parts: list[str] = []
    n = 0
    while n < size:
        w = rng.choice(_WORDS)
        if w.endswith("="):
            w += format(rng.getrandbits(32), "x")
        parts.append(w)
        n += len(w) + 1
    return " ".join(parts).encode("ascii")


def body_lengths(rng: np.random.Generator, n: int) -> np.ndarray:
    """Line lengths like real logs: lognormal around ~100 B, clipped to
    40 B .. 4 KiB (mean ~150 B, a few percent of lines are KiB-long
    stack-trace-ish records)."""
    raw = rng.lognormal(mean=np.log(100.0), sigma=0.9, size=n)
    return np.clip(raw, 40, 4096).astype(np.int64)


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class LineMaker:
    """Builds complete lines (header + body + newline) from a seed."""

    def __init__(self, seed: int, refuse_share: float):
        self._rng = random.Random(seed)
        self._nprng = np.random.default_rng(seed)
        self.pool = text_pool(self._rng)
        self.refuse_share = refuse_share

    def lines(self, seqs: range) -> list[bytes]:
        """Lines with creation stamp 0; the live writer re-stamps them."""
        n = len(seqs)
        lens = body_lengths(self._nprng, n)
        offs = self._nprng.integers(0, len(self.pool) - 4096, size=n)
        refuse = self._nprng.random(n) < self.refuse_share
        pool = self.pool
        out = []
        for i, seq in enumerate(seqs):
            level = _LEVELS[seq % len(_LEVELS)]
            body = pool[offs[i]:offs[i] + lens[i]]
            out.append(header(seq, 0, bool(refuse[i]))
                       + level.encode() + b" " + body + b"\n")
        return out


@dataclass
class Corpus:
    root: str
    files: list[str]
    records: int
    refused: int          # lines flagged for one transient refusal


def write_corpus(root: str, seed: int, records: int, files: int) -> Corpus:
    """``files`` log files whose sizes follow a Zipf law (so the
    ``partition_key`` = file path is skewed), sequence numbers
    ``0 .. records-1`` in file order."""
    os.makedirs(root, exist_ok=True)
    counts = np.floor(zipf_weights(files) * records).astype(np.int64)
    counts[:records - int(counts.sum())] += 1
    maker = LineMaker(seed, REFUSE_SHARE)
    paths, refused, seq = [], 0, 0
    for i, c in enumerate(counts):
        lines = maker.lines(range(seq, seq + int(c)))
        seq += int(c)
        refused += sum(1 for ln in lines if ln[11] == REFUSE_FLAG)
        blob = b"".join(lines)
        path = os.path.join(root, f"app-{i:03d}.log")
        with open(path, "wb") as f:
            f.write(blob)
        paths.append(path)
    return Corpus(root, paths, records, refused)


def decode_headers(b64_headers: bytes
                   ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Concatenated 44-char header prefixes → (seq, created_ns, ok).

    One C-level base64 decode plus a digit fold, so checking a record
    costs no Python-level work.  ``ok`` is False for a prefix that is
    not a header this module wrote (a corrupted or foreign record)."""
    if not b64_headers:
        z = np.zeros(0, np.int64)
        return z, z, np.zeros(0, bool)
    raw = np.frombuffer(base64.b64decode(b64_headers), dtype=np.uint8)
    rows = raw.reshape(-1, HEADER_BYTES).astype(np.int64) - 48
    digits = np.concatenate([rows[:, 0:11], rows[:, 12:31]], axis=1)
    ok = ((digits >= 0) & (digits <= 9)).all(axis=1)
    seq = rows[:, 0:11] @ (10 ** np.arange(10, -1, -1, dtype=np.int64))
    created = rows[:, 12:31] @ (10 ** np.arange(18, -1, -1,
                                                dtype=np.int64))
    return seq, created, ok
