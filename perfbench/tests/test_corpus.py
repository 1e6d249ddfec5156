"""Line headers survive the pipeline's wire encoding and decode back."""

import base64
import json
import os

import numpy as np

from perfbench import corpus
from perfbench.transport import AckTransport, account, read_acks


def _wire(line: bytes) -> bytes:
    """The sink's record shape: to_json of the Envelope, binary message
    rendered as base64."""
    return json.dumps({
        "origin": "perfbench", "event_type": "LogMessage",
        "timestamp": 1792190000000000000,
        "log_message": {"message": base64.b64encode(line).decode(),
                        "message_type": "OUT"}},
        separators=(",", ":")).encode()


def test_header_is_whole_base64_groups():
    h = corpus.header(12345, 1792190698760301371, refuse=True)
    assert len(h) == corpus.HEADER_BYTES and corpus.HEADER_BYTES % 3 == 0
    b64 = base64.b64encode(h + b"INFO tail\n")
    assert b64[corpus.FLAG_B64_POS] == corpus.REFUSE_FLAG_B64
    seq, created, ok = corpus.decode_headers(b64[:corpus.HEADER_B64])
    assert (seq[0], created[0], ok[0]) == (12345, 1792190698760301371,
                                           True)


def test_write_corpus_is_seeded_and_skewed(tmp_path):
    a = corpus.write_corpus(str(tmp_path / "a"), 7, 5000, 16)
    b = corpus.write_corpus(str(tmp_path / "b"), 7, 5000, 16)
    sizes = [os.path.getsize(p) for p in a.files]
    assert [open(p, "rb").read() for p in a.files] == \
        [open(p, "rb").read() for p in b.files]
    assert a.records == 5000 and 0 < a.refused < 150
    assert sizes[0] > 4 * sizes[-1]          # Zipf file sizes
    lines = b"".join(open(p, "rb").read() for p in a.files).splitlines()
    assert [int(ln[:11]) for ln in lines] == list(range(5000))
    lens = np.array([len(ln) for ln in lines])
    assert lens.min() >= 40 and lens.max() > 1000


def test_transport_refuses_flagged_records_once(tmp_path):
    lines = corpus.LineMaker(3, refuse_share=0.5).lines(range(40))
    page = [(_wire(ln), "k") for ln in lines]
    flagged = [i for i, ln in enumerate(lines)
               if ln[11] == corpus.REFUSE_FLAG]
    t = AckTransport(str(tmp_path))
    assert t.send("s", page) == flagged
    retry = [page[i] for i in flagged]
    assert t.send("s", retry) == []
    acks = read_acks(str(tmp_path))
    assert acks.send_calls == 2 and acks.offered == 40 + len(flagged)
    assert sorted(acks.seq.tolist()) == list(range(40))
    res = account(acks, 40)
    assert (res.delivered, res.missing, res.duplicates) == (40, 0, 0)


def test_account_counts_missing_duplicate_and_foreign(tmp_path):
    lines = corpus.LineMaker(4, refuse_share=0.0).lines(range(10))
    t = AckTransport(str(tmp_path))
    t.send("s", [(_wire(ln), "k") for ln in lines[:8]])
    t.send("s", [(_wire(lines[0]), "k")])
    res = account(read_acks(str(tmp_path)), 12)
    assert (res.delivered, res.missing, res.duplicates, res.foreign) == \
        (8, 4, 1, 0)
    res = account(read_acks(str(tmp_path)), 5)
    assert res.foreign == 3 and res.failed == 3
