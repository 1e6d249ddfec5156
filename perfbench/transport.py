"""The benchmark's delivery target: a Kinesis-shaped fake that keeps
receipts.

:class:`AckTransport` runs inside Spark's Python workers (the sink's
``mapInPandas`` pickles it into every delivery task).  Per ``send`` it

* refuses, once, each record whose header carries the refusal flag —
  the PutRecords per-record ``ErrorCode`` shape, which the sink must
  retry;
* appends one receipt to a per-instance file: acceptance wall-clock
  time, time spent inside ``send``, records offered, and the base64
  header of every accepted record.

Receipts are parsed after the measured window by :func:`read_acks`, so
the per-record cost inside the pipeline is one ``bytes.find`` and a
slice.
"""

from __future__ import annotations

import glob
import os
import time
import uuid
from dataclasses import dataclass

import numpy as np

from cga_logs_to_kinesis_spark.streaming.sink import Transport
from perfbench.corpus import (
    FLAG_B64_POS,
    HEADER_B64,
    REFUSE_FLAG_B64,
    decode_headers,
)

_MSG_KEY = b'"message":"'


class AckTransport(Transport):
    def __init__(self, ack_dir: str):
        self.ack_dir = ack_dir
        self._path: str | None = None
        self._refused: set[bytes] = set()

    def __getstate__(self):
        return {"ack_dir": self.ack_dir}

    def __setstate__(self, state):
        self.__init__(state["ack_dir"])

    def send(self, stream, page):
        t0 = time.perf_counter_ns()
        failed: list[int] = []
        accepted: list[bytes] = []
        for i, (data, _key) in enumerate(page):
            j = data.find(_MSG_KEY) + len(_MSG_KEY)
            head = data[j:j + HEADER_B64]
            if (head[FLAG_B64_POS] == REFUSE_FLAG_B64
                    and head not in self._refused):
                self._refused.add(head)
                failed.append(i)
            else:
                accepted.append(head)
        now = time.time_ns()
        if self._path is None:
            os.makedirs(self.ack_dir, exist_ok=True)
            self._path = os.path.join(
                self.ack_dir, f"{os.getpid()}-{uuid.uuid4().hex}.ack")
        receipt = (f"#{now} {time.perf_counter_ns() - t0} {len(page)} "
                   f"{len(accepted)}\n").encode() + b"".join(accepted)
        with open(self._path, "ab") as f:
            f.write(receipt + b"\n")
        return failed


@dataclass
class Acks:
    """Everything the transport accepted, one row per record."""
    seq: np.ndarray            # int64 sequence numbers
    created_ns: np.ndarray     # generator stamp of each record
    accepted_ns: np.ndarray    # when send() accepted it
    ok: np.ndarray             # header decoded as a benchmark record
    send_calls: int
    send_s: list[float]        # time inside each send()
    offered: int               # records offered over all send() calls
    send_end_ns: list[int]     # acceptance time of each send() call


def read_acks(ack_dir: str) -> Acks:
    heads: list[bytes] = []
    counts: list[int] = []
    stamps: list[int] = []
    send_s: list[float] = []
    offered = 0
    for path in sorted(glob.glob(os.path.join(ack_dir, "*.ack"))):
        with open(path, "rb") as f:
            lines = f.read().split(b"\n")
        for k in range(0, len(lines) - 1, 2):
            now, dur, n_off, n_acc = map(int, lines[k][1:].split())
            stamps.append(now)
            send_s.append(dur / 1e9)
            counts.append(n_acc)
            offered += n_off
            heads.append(lines[k + 1])
    seq, created, ok = decode_headers(b"".join(heads))
    accepted = np.repeat(np.asarray(stamps, dtype=np.int64),
                         np.asarray(counts, dtype=np.int64))
    return Acks(seq, created, accepted, ok, len(stamps), send_s, offered,
                stamps)


@dataclass
class Delivery:
    """Accounting of one delivery run against the records generated."""
    expected: int
    delivered: int         # distinct expected seqs accepted
    duplicates: int        # acceptances beyond the first per seq
    missing: int           # expected seqs never accepted
    foreign: int           # accepted records that are not expected ones

    @property
    def failed(self) -> int:
        return self.missing + self.foreign


def account(acks: Acks, expected: int) -> Delivery:
    """Check that sequence numbers ``0 .. expected-1`` were each
    accepted exactly once."""
    good = acks.ok & (acks.seq >= 0) & (acks.seq < expected)
    counts = np.bincount(acks.seq[good], minlength=expected)
    delivered = int((counts > 0).sum())
    return Delivery(expected=expected, delivered=delivered,
                    duplicates=int(counts.sum()) - delivered,
                    missing=expected - delivered,
                    foreign=int((~good).sum()))
