r"""Append-tail bridge: follow open files, spool appends for Spark.

The reference delegates file-following to ``tail --follow=name
--retry`` (``main.go:214-250`` — follow by *name* so rotation swaps in
the new file, retry so a not-yet-existing path is watched anyway) and
forwards each complete line.  Spark's file stream source ingests new
*files*, not appends, so a daemon pointed at an actively-appended log
would see nothing until rotation (SURVEY §7.4.1).

This module is option (b) from that survey section: a small
driver-side tailer thread that converts *appends* into *spool files*.
Each poll writes one atomic spool file (tmp + rename, so the Spark
file source never observes a partial file) holding the newly-appended
complete lines of every watched file; the unmodified pipeline then
streams the spool directory (:func:`read_spool`).  The Spark side
stays distributed and checkpointed — the tailer is deliberately tiny
driver-side glue, the same division of labor as the reference
shelling out to ``tail``.

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

A spool line is ``<hex of the watched file's path relative to
watch_dir>\t<line>\n``, so the pipeline keys each record by the
watched file (the reference's partition key, main.go:346), not by the
spool file.  Every piece shipped ends in ``\n`` (an EOF flush or
oversized segment gets one), so pieces of two files never merge; only
``\n`` ends a line, so a lone ``\r`` stays inside it and a CRLF line
keeps its ``\r`` (``ReadBytes('\n')``, main.go:229-249).
"""

from __future__ import annotations

import contextlib
import glob as globmod
import json
import os
import sys
import threading
import time
import uuid
from dataclasses import dataclass, field

from cga_logs_to_kinesis_spark.streaming.envelope import MAX_BYTES_PER_TRIGGER

# Bounds append-to-visibility latency at poll + trigger; the reference
# has tail's inotify (effectively 0) + the 5 s flush interval.
POLL_INTERVAL_S = 0.2
# Wait after a poll fails with an OSError before polling again.
RETRY_AFTER_ERROR_S = 5.0


@dataclass
class _FileState:
    ino: int = -1
    dev: int = -1
    offset: int = 0


@dataclass
class TailFollower:
    """Follow appends to ``watch_dir/glob``; stage them into spool files.

    ``glob`` is relative to ``watch_dir``; ``**/`` recurses only where
    it is written.
    """

    watch_dir: str
    spool_dir: str
    glob: str = "*.log"
    # one read of one file; a spool file stays under twice this plus
    # its line prefixes, and the source admits at least one spool file
    # per micro-batch, so this also bounds a batch's size
    max_chunk_bytes: int = MAX_BYTES_PER_TRIGGER
    _states: dict[str, _FileState] = field(default_factory=dict)
    # Open handle per watched path, pinned to the inode recorded in
    # _states — this is what lets rotation/deletion drain the old
    # inode after the name already points elsewhere.  Never persisted
    # (a restart cannot recover a dropped fd; that loss window matches
    # the reference's restarted `tail`).
    _handles: dict[str, object] = field(default_factory=dict)
    _stop: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None
    # set by a poll whose read of some file stopped at max_chunk_bytes:
    # that file had more on disk than the poll shipped
    _capped: bool = field(default=False, init=False)
    # this poll's spool lines, and the spool files it wrote so far
    _buf: bytearray = field(default_factory=bytearray, init=False)
    _spooled: int = field(default=0, init=False)
    # polls of the tailer thread that failed with an OSError
    errors: int = field(default=0, init=False)

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

        Returns the number of spool files written: one, or more if
        the poll's lines reach ``max_chunk_bytes``.  Public so tests
        (and availableNow backfills) can drive the tailer
        deterministically without the thread.
        """
        self._spooled = 0
        self._capped = False
        pattern = os.path.join(self.watch_dir, self.glob)
        seen: set[str] = set()
        for path in globmod.glob(pattern, recursive=True):
            if not os.path.isfile(path):      # S4: regular files only
                continue
            seen.add(path)
            self._poll_file(path)
        # Paths with a retained handle that the glob no longer matches
        # (deleted / renamed away): drain their remaining bytes through
        # the old fd, then release it.
        for path in [p for p in self._handles if p not in seen]:
            self._poll_file(path)
        # A vanished file keeps its state (retry semantics: it may come
        # back under the same name via rotation); state for files gone
        # >1 poll is harmless — offset is keyed by (ino, dev) identity.
        self._write_spool(1)
        if self._spooled:
            self._save_state()
        return self._spooled

    def _poll_file(self, path: str) -> None:
        st = self._states.setdefault(path, _FileState())
        try:
            stat = os.stat(path)
        except OSError:
            # Vanished: drain whatever the retained handle can still
            # see, then close it.  State is kept (retry semantics — the
            # name may come back; a new inode then takes the rotation
            # branch below and starts from 0).
            self._drain_and_close(path, st)
            return
        if (stat.st_ino, stat.st_dev) != (st.ino, st.dev):    # rotated
            # Drain the old inode to EOF (complete lines AND the final
            # partial — tail's EOF flush) before adopting the new file.
            self._drain_and_close(path, st)
            st.ino, st.dev, st.offset = stat.st_ino, stat.st_dev, 0
        elif stat.st_size < st.offset:         # truncated in place
            st.offset = 0
        if stat.st_size <= st.offset:
            return
        fh = self._handles.get(path)
        if fh is None:
            try:
                fh = open(path, "rb")
            except OSError:
                return                         # vanished mid-poll: retry
            fst = os.fstat(fh.fileno())
            if (fst.st_ino, fst.st_dev) != (st.ino, st.dev):
                fh.close()                     # rotated between stat and
                return                         # open; next poll adopts it
            self._handles[path] = fh
        try:
            fh.seek(st.offset)
            chunk = fh.read(min(stat.st_size - st.offset,
                                self.max_chunk_bytes))
        except OSError:
            return
        self._capped |= len(chunk) == self.max_chunk_bytes
        if not chunk:
            return
        # Ship only complete lines; keep a trailing partial buffered in
        # the source file by not advancing the offset past it — UNLESS
        # a full max_chunk read found no newline at all, where waiting
        # would livelock: ship the oversized segment and move on.
        cut = chunk.rfind(b"\n")
        if cut < 0:
            if len(chunk) < self.max_chunk_bytes:
                return
            body = chunk
        else:
            body = chunk[:cut + 1]
        st.offset += len(body)
        self._ship(path, body)

    def _drain_and_close(self, path: str, st: _FileState) -> None:
        """Read the retained handle (the inode recorded in ``st``) to
        EOF, shipping everything including a final unterminated line,
        then close it.  Ships nothing if there is no handle — e.g.
        first poll, or a restart that lost the fd."""
        fh = self._handles.pop(path, None)
        if fh is None:
            return
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
                        # ordinary line never splits into two records
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
                    self._ship(path, chunk)
        except OSError:
            pass                               # old fd unreadable: give up
        finally:
            fh.close()

    def _ship(self, src_path: str, body: bytes) -> None:
        """Buffer ``body`` as spool lines, each prefixed by the path of
        ``src_path`` relative to the watch dir (every glob result starts
        with it); a body without a final newline gets one."""
        rel = src_path[len(os.path.join(self.watch_dir, "")):]
        prefix = os.fsencode(rel).hex().encode() + b"\t"
        self._buf += prefix + body.removesuffix(b"\n").replace(
            b"\n", b"\n" + prefix) + b"\n"
        self._write_spool(self.max_chunk_bytes)   # bound the buffer

    def _write_spool(self, min_bytes: int) -> None:
        # Write the buffer once it holds min_bytes: at the end of each
        # poll, or early at max_chunk_bytes.  The zero-padded nanosecond
        # timestamp makes name order poll order (readers that sort by
        # name replay appends in sequence); the uuid keeps two tailer
        # instances (or a restart racing an old thread) from colliding
        # on a name the Spark source has already committed to its log.
        if len(self._buf) < min_bytes:
            return
        name = f"{time.time_ns():020d}-{uuid.uuid4().hex}.log"
        tmp = os.path.join(self.spool_dir, f".{name}.tmp")
        try:
            with open(tmp, "wb") as f:
                f.write(self._buf)
            os.replace(tmp, os.path.join(self.spool_dir, name))
        except OSError:
            # a full disk: free what the partial file took; the next
            # poll writes the buffer under a new name
            with contextlib.suppress(OSError):
                os.remove(tmp)
            raise
        self._buf.clear()
        self._spooled += 1

    # -- lifecycle ---------------------------------------------------------

    def load(self) -> "TailFollower":
        """Create the spool dir and load the saved offsets, without
        starting the thread; the caller then drives :meth:`poll_once`."""
        os.makedirs(self.spool_dir, exist_ok=True)
        self._load_state()
        return self

    def drain(self) -> int:
        """Poll until one poll reads every watched file up to the end
        it saw, so every complete line appended before the call is
        spooled: one poll reads at most ``max_chunk_bytes`` of each
        file.  Returns the number of spool files written."""
        spooled = self.poll_once()
        while self._capped:
            spooled += self.poll_once()
        return spooled

    def start(self) -> "TailFollower":
        self.load()
        self._stop.clear()
        self._thread = threading.Thread(
            target=self._run, name="tail-follower", daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.is_set():
            try:
                self.poll_once()
                wait = POLL_INTERVAL_S
            except OSError as e:
                # e.g. ENOSPC on a spool write.  _buf keeps the lines
                # not yet written, so the next poll ships them once;
                # the reference re-launches a failed tail after 5 s
                # (main.go:259-273).
                self.errors += 1
                print(f"tailer poll failed, retrying in "
                      f"{RETRY_AFTER_ERROR_S:g} s: {e}", file=sys.stderr)
                wait = RETRY_AFTER_ERROR_S
            self._stop.wait(wait)

    def is_alive(self) -> bool:
        return self._thread is not None and self._thread.is_alive()

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


def prune_spool(checkpoint_dir: str, spool_dir: str, after: int) -> int:
    """Delete the spool files of every batch that the query
    checkpointed at ``checkpoint_dir`` has committed, and return the
    file source's log offset they reach; pass it as ``after`` next
    time, so only newer source log entries are read (start with -1).

    A restart replays only uncommitted batches, so nothing reads these
    files again.  Reads Spark's checkpoint layout (format ``v1``): the
    last ``commits/<batch>``; the source's ``{"logOffset": n}`` on the
    third line of ``offsets/<batch>``; and ``sources/0/<n>[.compact]``,
    one ``{"path": ...}`` entry per line after the header, where a
    compact file also repeats every entry before it.
    """
    try:
        batch = max(int(n) for n in os.listdir(
            os.path.join(checkpoint_dir, "commits")) if n.isdigit())
        with open(os.path.join(checkpoint_dir, "offsets", str(batch))) as f:
            upto = json.loads(f.read().splitlines()[2])["logOffset"]
        logs = os.listdir(os.path.join(checkpoint_dir, "sources", "0"))
    except (OSError, ValueError):
        return after                           # nothing committed yet
    for name in logs:
        n = name.split(".")[0]
        if not n.isdigit() or not after < int(n) <= upto:
            continue
        with open(os.path.join(checkpoint_dir, "sources", "0", name)) as f:
            entries = f.read().splitlines()[1:]
        for entry in entries:
            spooled = json.loads(entry)["path"].rsplit("/", 1)[-1]
            try:
                os.remove(os.path.join(spool_dir, spooled))
            except FileNotFoundError:
                pass
    return upto


def read_spool(spark, spool_dir: str, watch_dir: str):
    """Stream the spool dir as ``value`` (the line) and ``path`` (the
    watched file it was appended to, as the tailer globbed it)."""
    from pyspark.sql import functions as F

    lines = (spark.readStream
             .option("maxBytesPerTrigger", MAX_BYTES_PER_TRIGGER)
             .text(spool_dir, lineSep="\n", pathGlobFilter="*.log"))
    parts = F.split("value", "\t", 2)
    return lines.select(parts[1].alias("value"), F.concat(
        F.lit(os.path.join(watch_dir, "")),
        F.decode(F.unhex(parts[0]), "UTF-8")).alias("path"))
