"""Append-tail bridge: follow open files, spool appends for Spark.

The reference delegates file-following to ``tail --follow=name
--retry`` (``main.go:214-250`` — follow by *name* so rotation swaps in
the new file, retry so a not-yet-existing path is watched anyway) and
forwards each complete line.  Spark's file stream source ingests new
*files*, not appends, so a daemon pointed at an actively-appended log
would see nothing until rotation (SURVEY §7.4.1).

This module is option (b) from that survey section: a small
driver-side tailer thread that converts *appends* into *spool files*.
Each poll, every watched file's newly-appended complete lines are
written as one atomic spool file (tmp + rename, so the Spark file
source never observes a partial file); the unmodified pipeline then
streams the spool directory.  The Spark side stays distributed and
checkpointed — the tailer is deliberately tiny driver-side glue, the
same division of labor as the reference shelling out to ``tail``.

Follow-by-name semantics reproduced:

* **rotation** — st_ino/st_dev change under the same name → the *old*
  inode is first drained to EOF through the retained file handle
  (every byte appended since the last poll, including a final
  unterminated line — tail's EOF flush, main.go:238-244), then the new
  file is adopted from offset 0.  Without the drain, bytes appended to
  the old inode between the last poll and the rename would be lost on
  every logrotate;
* **truncation** — size < offset on the *same* inode → restart from 0
  (``tail`` prints "file truncated" and does the same; the overwritten
  bytes are unrecoverable by definition);
* **retry** — a watched path that does not exist yet (or vanishes) is
  polled until it appears, never an error (``--retry``, main.go:215);
  a vanished file's handle is drained to EOF then closed, so deletion
  loses nothing that was already on disk;
* **line unit** — only complete ``\n``-terminated lines ship; a
  partial tail line stays buffered in the source file until finished
  (bufio.ReadBytes('\n') loop, main.go:230-248).  Exception: a single
  line longer than ``max_chunk_bytes`` ships in chunk-sized segments
  (deviation from ``tail``, which buffers unboundedly) — the
  alternative is an unbounded buffer or a livelock re-reading the
  same newline-free chunk forever.

Offsets are persisted to ``<spool>/.tail_state.json`` after each
poll, so a daemon restart re-ships nothing (stronger than the
reference, whose restarted ``tail`` re-emits nothing but also loses
anything appended while down unless rotation is pending).

Each spool file's name carries the path of the watched file it came
from, so the pipeline keys every record by that path
(:func:`spooled_source_path`) and not by the spool chunk — the
reference's partition key (main.go:346), which keeps one file's
records in one delivery task, in order.
"""

from __future__ import annotations

import glob as globmod
import hashlib
import json
import os
import threading
import time
import uuid
from dataclasses import dataclass, field

# Spool file name: <ns:020d>-<uuid hex>-<source>.log, where <source>
# is the hex of the watched file's path relative to the watch dir.
SPOOL_NAME_RE = r"\d{20}-[0-9a-f]{32}-([0-9a-f]*)\.log$"
# Longest <source> that keeps the name, and the ".<name>.tmp" it is
# first written as, within NAME_MAX (255 bytes).
_MAX_SOURCE_HEX = 255 - len(f".{0:020d}-{0:032x}-.log.tmp")


@dataclass
class _FileState:
    ino: int = -1
    dev: int = -1
    offset: int = 0


@dataclass
class TailFollower:
    """Follow appends to ``watch_dir/glob``; stage them into spool files.

    ``poll_interval_s`` bounds append-to-visibility latency at
    poll + trigger; the reference's equivalent knob is tail's inotify
    (effectively 0) + the 5 s flush interval.
    """

    watch_dir: str
    spool_dir: str
    glob: str = "*.log"
    poll_interval_s: float = 0.2
    max_chunk_bytes: int = 64 * 1024 * 1024   # bound one spool file
    _states: dict[str, _FileState] = field(default_factory=dict)
    # Open handle per watched path, pinned to the inode recorded in
    # _states — this is what lets rotation/deletion drain the old
    # inode after the name already points elsewhere.  Never persisted
    # (a restart cannot recover a dropped fd; that loss window matches
    # the reference's restarted `tail`).
    _handles: dict[str, object] = field(default_factory=dict)
    _stop: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None

    # -- state persistence -------------------------------------------------

    @property
    def _state_path(self) -> str:
        return os.path.join(self.spool_dir, ".tail_state.json")

    def _load_state(self) -> None:
        try:
            with open(self._state_path) as f:
                raw = json.load(f)
            self._states = {p: _FileState(**s) for p, s in raw.items()}
        except (OSError, ValueError):
            self._states = {}

    def _save_state(self) -> None:
        tmp = self._state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({p: vars(s) for p, s in self._states.items()}, f)
        os.replace(tmp, self._state_path)

    # -- one poll ----------------------------------------------------------

    def poll_once(self) -> int:
        """Scan watched files once; spool new complete lines.

        Returns the number of spool files written.  Public so tests
        (and availableNow backfills) can drive the tailer
        deterministically without the thread.
        """
        spooled = 0
        pattern = os.path.join(self.watch_dir, "**", self.glob)
        seen: set[str] = set()
        for path in globmod.glob(pattern, recursive=True):
            if not os.path.isfile(path):      # S4: regular files only
                continue
            seen.add(path)
            spooled += self._poll_file(path)
        # Paths with a retained handle that the glob no longer matches
        # (deleted / renamed away): drain their remaining bytes through
        # the old fd, then release it.
        for path in [p for p in self._handles if p not in seen]:
            spooled += self._poll_file(path)
        # A vanished file keeps its state (retry semantics: it may come
        # back under the same name via rotation); state for files gone
        # >1 poll is harmless — offset is keyed by (ino, dev) identity.
        if spooled:
            self._save_state()
        return spooled

    def _poll_file(self, path: str) -> int:
        st = self._states.setdefault(path, _FileState())
        try:
            stat = os.stat(path)
        except OSError:
            # Vanished: drain whatever the retained handle can still
            # see, then close it.  State is kept (retry semantics — the
            # name may come back; a new inode then takes the rotation
            # branch below and starts from 0).
            return self._drain_and_close(path, st)
        rotated = (stat.st_ino, stat.st_dev) != (st.ino, st.dev)
        spooled = 0
        if rotated:
            # Drain the old inode to EOF (complete lines AND the final
            # partial — tail's EOF flush) before adopting the new file.
            spooled += self._drain_and_close(path, st)
            st.ino, st.dev, st.offset = stat.st_ino, stat.st_dev, 0
        elif stat.st_size < st.offset:         # truncated in place
            st.offset = 0
        if stat.st_size <= st.offset:
            return spooled
        fh = self._handles.get(path)
        if fh is None:
            try:
                fh = open(path, "rb")
            except OSError:
                return spooled                 # vanished mid-poll: retry
            fst = os.fstat(fh.fileno())
            if (fst.st_ino, fst.st_dev) != (st.ino, st.dev):
                fh.close()                     # rotated between stat and
                return spooled                 # open; next poll adopts it
            self._handles[path] = fh
        try:
            fh.seek(st.offset)
            chunk = fh.read(min(stat.st_size - st.offset,
                                self.max_chunk_bytes))
        except OSError:
            return spooled
        if not chunk:
            return spooled
        # Ship only complete lines; keep a trailing partial buffered in
        # the source file by not advancing the offset past it — UNLESS
        # a full max_chunk read found no newline at all, where waiting
        # would livelock: ship the oversized segment and move on.
        cut = chunk.rfind(b"\n")
        if cut < 0:
            if len(chunk) < self.max_chunk_bytes:
                return spooled
            body = chunk
        else:
            body = chunk[:cut + 1]
        st.offset += len(body)
        self._write_spool(path, body)
        return spooled + 1

    def _drain_and_close(self, path: str, st: _FileState) -> int:
        """Read the retained handle (the inode recorded in ``st``) to
        EOF, shipping everything including a final unterminated line,
        then close it.  Returns spool files written (0 if no handle —
        e.g. first poll, or a restart that lost the fd)."""
        fh = self._handles.pop(path, None)
        if fh is None:
            return 0
        spooled = 0
        try:
            fst = os.fstat(fh.fileno())
            if (fst.st_ino, fst.st_dev) == (st.ino, st.dev):
                while True:
                    fh.seek(st.offset)
                    chunk = fh.read(self.max_chunk_bytes)
                    if not chunk:
                        break
                    if len(chunk) == self.max_chunk_bytes:
                        # More may follow: cut at the last newline so an
                        # ordinary line never splits across spool files
                        # (the oversized-line exception applies only to
                        # a single newline-free max_chunk run); the
                        # remainder is re-read from the new offset on
                        # the next pass.  The true EOF read (shorter
                        # than max_chunk) ships whole, including a
                        # final unterminated line — tail's EOF flush.
                        cut = chunk.rfind(b"\n")
                        if cut >= 0:
                            chunk = chunk[:cut + 1]
                    st.offset += len(chunk)
                    self._write_spool(path, chunk)
                    spooled += 1
        except OSError:
            pass                               # old fd unreadable: give up
        finally:
            fh.close()
        return spooled

    def _write_spool(self, src_path: str, body: bytes) -> None:
        # One spool file per (file, poll) chunk, named as SPOOL_NAME_RE
        # says.  The zero-padded nanosecond timestamp makes name order
        # chunk order (readers that sort by name replay appends in
        # sequence); the uuid keeps two tailer instances (or a restart
        # racing an old thread) from colliding on a name the Spark
        # source has already committed to its file log; the source
        # path is relative to the watch dir, which every glob result
        # starts with.
        rel = os.fsencode(src_path[len(os.path.join(self.watch_dir, "")):])
        source = rel.hex()
        if len(source) > _MAX_SOURCE_HEX:
            # too long for a file name: key by a digest of the path
            digest = "#" + hashlib.sha256(rel).hexdigest()
            source = digest.encode().hex()
        name = f"{time.time_ns():020d}-{uuid.uuid4().hex}-{source}.log"
        tmp = os.path.join(self.spool_dir, f".{name}.tmp")
        with open(tmp, "wb") as f:
            f.write(body)
        os.replace(tmp, os.path.join(self.spool_dir, name))

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> "TailFollower":
        os.makedirs(self.spool_dir, exist_ok=True)
        self._load_state()
        self._stop.clear()
        self._thread = threading.Thread(
            target=self._run, name="tail-follower", daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.is_set():
            self.poll_once()
            self._stop.wait(self.poll_interval_s)

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None
        self._save_state()
        for fh in self._handles.values():
            try:
                fh.close()
            except OSError:
                pass
        self._handles.clear()


def spooled_source_path(watch_dir: str):
    """Column: the path of the watched file that the spool chunk being
    read came from, decoded from the chunk's name (``_write_spool``).
    It equals the path the tailer globbed for that file."""
    from pyspark.sql import functions as F

    source = F.regexp_extract(F.input_file_name(), SPOOL_NAME_RE, 1)
    return F.concat(F.lit(os.path.join(watch_dir, "")),
                    F.decode(F.unhex(source), "UTF-8"))
