"""Archive-member DataSource (SURVEY S6/S7, §7.3#1, §7.4).

The reference streams ~1M JSON members out of one metadata.tar.gz
strictly sequentially (code/data_processing_scripts/
ID_matching_metadata.py:68-88) because gzip has a single stream.
This Spark-4 Python DataSource breaks that constraint where the
container allows it:

- member CATALOG is built once on the driver (name/offset/size) —
  the analogue of `getnames()`;
- members are SPLIT across input partitions, so extraction is
  parallel;
- for an UNCOMPRESSED .tar every task pread()s its members straight
  at their byte offsets (true random access, no re-scan);
- for .tar.gz whose stream carries FULL-FLUSH restart points
  (gzip --rsyncable, zlib Z_FULL_FLUSH writers), a build-once
  validated sync-point index (`build_gzip_sync_index`) gives every
  task near-random access: it resumes raw inflate at the nearest
  restart point below its members instead of at byte zero;
- for plain .tar.gz (no flush points) each task must re-stream the
  gzip prefix — inherent to the format; the fix at scale is
  re-containering (pre-extract or per-member recompress), which
  `explode_archive_to_parquet` below does once;
- the member catalog AND sync index are persisted as a sidecar
  (`<archive>.gidx`, keyed by size+mtime_ns) on first scan, so a
  repeatedly-queried foreign archive — the reference's 1M-member
  metadata.tar.gz — pays its two driver-side linear passes exactly
  once, not per query.

Usage:
    spark.dataSource.register(TarMembersDataSource)
    df = (spark.read.format("tar_members")
          .option("path", "/data/metadata.tar.gz")
          .option("suffix", ".json").load())
    # → member: string, content: binary, size: long
"""

from __future__ import annotations

import tarfile

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SCHEMA = StructType([
    StructField("member", StringType()),
    StructField("content", BinaryType()),
    StructField("size", LongType()),
])


class _MemberChunk(InputPartition):
    def __init__(self, archive: str, members: list[tuple[str, int, int]],
                 compressed: bool,
                 sync_index: list[tuple[int, int]] | None = None):
        self.archive = archive
        self.members = members  # (name, data_offset, size)
        self.compressed = compressed
        # validated gzip restart points (comp_off, uncomp_off); only
        # set for .tar.gz whose stream has full-flush markers
        self.sync_index = sync_index or []


class _GzCursor:
    """Forward reader over a raw deflate stream resumed at a
    validated restart point: skip() and take() in uncompressed
    coordinates, decompressing 64 KiB compressed slabs on demand.

    Concatenated gzip files (`cat a.gz b.gz`, multi-member per
    RFC 1952 §2.2) do not stop the cursor: when one deflate stream
    ends, _fill skips that member's 8-byte CRC32/ISIZE footer in
    ``unused_data``, parses the next member's gzip header
    (incrementally — FNAME/FCOMMENT can be arbitrarily long), and
    keeps inflating, so uncompressed coordinates stay continuous
    across members exactly as GzipFile's do."""

    def __init__(self, fh, comp_off: int, uncomp_off: int):
        import zlib

        fh.seek(comp_off)
        self._fh = fh
        self._d = zlib.decompressobj(wbits=-15)
        self._buf = b""
        self.pos = uncomp_off  # uncompressed position of buf start

    def _next_member(self) -> bool:
        """Current deflate stream hit eof: cross into the next gzip
        member, if any. Returns False at true end of archive."""
        import zlib

        data = self._d.unused_data
        while len(data) < 10 + 8:  # footer + minimal next header
            raw = self._fh.read(1 << 16)
            if not raw:
                return False
            data += raw
        data = data[8:]  # finished member's CRC32 + ISIZE footer
        if data[:2] != b"\x1f\x8b":
            return False
        while True:
            try:
                start = _gzip_deflate_start(data)
            except (ValueError, IndexError):
                start = None  # header extends past buffered bytes
            if start is not None and start <= len(data):
                break
            raw = self._fh.read(1 << 16)
            if not raw:
                return False
            data += raw
        self._d = zlib.decompressobj(wbits=-15)
        self._buf = self._d.decompress(data[start:])
        return True

    def _fill(self) -> bool:
        while not self._buf:
            if self._d.eof:
                if not self._next_member():
                    return False
                continue
            raw = self._fh.read(1 << 16)
            if not raw:
                return False
            self._buf = self._d.decompress(raw)
        return True

    def skip(self, n: int) -> None:
        while n > 0 and self._fill():
            step = min(n, len(self._buf))
            self._buf = self._buf[step:]
            self.pos += step
            n -= step

    def take(self, n: int) -> bytes:
        out = []
        while n > 0 and self._fill():
            step = min(n, len(self._buf))
            out.append(self._buf[:step])
            self._buf = self._buf[step:]
            self.pos += step
            n -= step
        return b"".join(out)


def _read_members_indexed(partition: _MemberChunk):
    """Task-side indexed read: for each member (ascending offsets),
    keep the current inflate cursor when it is the cheapest way
    forward, else restart at the nearest validated sync point below
    the member. A task whose members live in the stream's last tenth
    decompresses from the last-tenth sync point, not from byte 0.

    Every read is length-verified: a short `take` means the cursor's
    view of the stream diverged from the tar catalog (e.g. an archive
    shape the cursor cannot walk) — rather than yield silently
    truncated content, the remaining members fall back to the
    sequential tarfile path, which is always correct."""
    import bisect

    done: set[str] = set()
    with open(partition.archive, "rb") as fh:
        dstart = _read_gzip_deflate_start(fh)
        pts = [(dstart, 0)] + sorted(partition.sync_index)
        uoffs = [u for _, u in pts]
        cur: _GzCursor | None = None
        for name, off, size in partition.members:
            i = bisect.bisect_right(uoffs, off) - 1
            if cur is None or off < cur.pos or pts[i][1] > cur.pos:
                cur = _GzCursor(fh, pts[i][0], pts[i][1])
            cur.skip(off - cur.pos)
            body = cur.take(size)
            if len(body) != size:
                break  # short read: finish via the sequential path
            done.add(name)
            yield (name, body, size)
    remaining = {name for name, _, _ in partition.members} - done
    if remaining:
        with tarfile.open(partition.archive, "r:*") as tar:
            for m in tar:
                if m.name in remaining:
                    f = tar.extractfile(m)
                    yield (m.name, f.read() if f else b"", m.size)


_SIDECAR_VERSION = 1


def _sidecar_candidates(path: str, index_dir: str | None) -> list[str]:
    """Where a sidecar index for `path` may live, in preference
    order: an explicit indexDir, then next to the archive, then a
    shared temp cache (for archives in read-only directories). The
    cache name embeds an abspath hash so same-named archives in
    different directories never collide."""
    import hashlib
    import os
    import tempfile

    out = []
    base = os.path.basename(path)
    if index_dir:
        out.append(os.path.join(index_dir, base + ".gidx"))
    out.append(path + ".gidx")
    tag = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:16]
    out.append(os.path.join(tempfile.gettempdir(), "tar_members_idx",
                            f"{base}.{tag}.gidx"))
    return out


def load_archive_index(
    path: str, index_dir: str | None = None,
) -> tuple[list[tuple[str, int, int]], list[tuple[int, int]]] | None:
    """Read a sidecar member-catalog + gzip-sync index for `path`,
    or None if absent/stale. Keyed by (size, mtime_ns): touching or
    rewriting the archive invalidates every previously written
    sidecar, so a stale index can never serve wrong offsets."""
    import json
    import os

    try:
        st = os.stat(path)
    except OSError:
        return None
    for sp in _sidecar_candidates(path, index_dir):
        try:
            with open(sp, "r", encoding="utf-8") as f:
                meta = json.load(f)
        except (OSError, ValueError):
            continue
        if (meta.get("version") == _SIDECAR_VERSION
                and meta.get("size") == st.st_size
                and meta.get("mtime_ns") == st.st_mtime_ns):
            members = [(str(n), int(o), int(s))
                       for n, o, s in meta.get("members", [])]
            sync = [(int(c), int(u)) for c, u in meta.get("sync", [])]
            return members, sync
    return None


def write_archive_index(path: str, members: list[tuple[str, int, int]],
                        sync: list[tuple[int, int]],
                        index_dir: str | None = None) -> str | None:
    """Persist the build-once index beside the archive (atomic
    tmp+rename, so concurrent scans never read a torn file). A
    read-only archive directory falls through to the temp cache;
    total failure is silent — the sidecar is an optimization, never
    a correctness dependency. Returns the path written, or None."""
    import json
    import os
    import tempfile

    try:
        st = os.stat(path)
    except OSError:
        return None
    payload = json.dumps({
        "version": _SIDECAR_VERSION,
        "size": st.st_size,
        "mtime_ns": st.st_mtime_ns,
        "members": [[n, o, s] for n, o, s in members],
        "sync": [[c, u] for c, u in sync],
    })
    for sp in _sidecar_candidates(path, index_dir):
        d = os.path.dirname(sp)
        try:
            os.makedirs(d, exist_ok=True)
            fd, tmp = tempfile.mkstemp(dir=d, prefix=".gidx-")
            try:
                with os.fdopen(fd, "w", encoding="utf-8") as f:
                    f.write(payload)
                os.replace(tmp, sp)
            except BaseException:
                try:
                    os.unlink(tmp)
                except OSError:
                    pass
                raise
            return sp
        except OSError:
            continue
    return None


class TarMembersReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("tar_members requires .option('path', ...)")
        self.suffix = options.get("suffix", "")
        self.num_partitions = int(options.get("numPartitions", "16"))
        self.use_sidecar = options.get("indexSidecar", "true") != "false"
        self.index_dir = options.get("indexDir") or None

    def partitions(self):
        compressed = self.path.endswith(".gz") or self.path.endswith(".tgz")
        cached = (load_archive_index(self.path, self.index_dir)
                  if self.use_sidecar else None)
        if cached is not None:
            full_catalog = cached[0]
            sync_index = cached[1] if compressed else []
        else:
            # first scan of this archive (or the sidecar is stale):
            # stream it once for the member catalog, once for the
            # gzip sync points — then persist BOTH so every later
            # query (any suffix filter) opens the sidecar instead of
            # re-inflating the whole stream twice on the driver
            full_catalog = []
            with tarfile.open(self.path, "r:*") as tar:
                for m in tar:
                    if m.isfile():
                        full_catalog.append((m.name, m.offset_data, m.size))
            sync_index: list[tuple[int, int]] = []
            if compressed and full_catalog:
                # a plain-gzip archive yields [] and the
                # sequential-prefix fallback below still applies
                try:
                    sync_index = build_gzip_sync_index(self.path)
                except (OSError, ValueError):
                    sync_index = []
            if self.use_sidecar:
                write_archive_index(self.path, full_catalog, sync_index,
                                    self.index_dir)
        catalog = [m for m in full_catalog if m[0].endswith(self.suffix)]
        if not catalog:
            return [_MemberChunk(self.path, [], compressed)]
        n = min(self.num_partitions, len(catalog))
        if compressed and sync_index:
            # contiguous offset ranges (not round-robin): members of
            # one task share sync segments, so each task decompresses
            # ~1/n of the stream instead of re-walking interleaved
            # gaps across its whole length
            ordered = sorted(catalog, key=lambda t: t[1])
            k, r = divmod(len(ordered), n)
            chunks, pos = [], 0
            for i in range(n):
                step = k + (1 if i < r else 0)
                chunks.append(ordered[pos:pos + step])
                pos += step
        else:
            chunks = [sorted(catalog[i::n], key=lambda t: t[1])
                      for i in range(n)]
        return [_MemberChunk(self.path, c, compressed, sync_index)
                for c in chunks if c]

    def read(self, partition: _MemberChunk):
        if not partition.members:
            return
        if partition.compressed:
            if partition.sync_index:
                yield from _read_members_indexed(partition)
                return
            # single gzip stream, no restart points: iterate members
            # in offset order, extracting only this chunk's names
            wanted = {name for name, _, _ in partition.members}
            with tarfile.open(partition.archive, "r:*") as tar:
                for m in tar:
                    if m.name in wanted:
                        f = tar.extractfile(m)
                        yield (m.name, f.read() if f else b"", m.size)
        else:
            # plain tar: direct pread at each member's data offset
            with open(partition.archive, "rb") as fh:
                for name, offset, size in partition.members:
                    fh.seek(offset)
                    yield (name, fh.read(size), size)


class TarMembersDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tar_members"

    def schema(self):
        return SCHEMA

    def reader(self, schema):
        return TarMembersReader(self.options)


class ZipMembersReader(DataSourceReader):
    """Zip is the EASY archive case (reference containers posts in a
    zip — analysis/preview_posts.ipynb:23): the central directory at
    the end of the file is a complete member catalog, and every
    member is compressed INDEPENDENTLY, so — unlike .tar.gz's single
    gzip stream — every task gets true random access to its share of
    members regardless of compression. The driver reads only the
    central directory; tasks open the archive and seek straight to
    their members."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("zip_members requires .option('path', ...)")
        self.suffix = options.get("suffix", "")
        self.num_partitions = int(options.get("numPartitions", "16"))

    def partitions(self):
        import zipfile

        catalog: list[tuple[str, int, int]] = []
        with zipfile.ZipFile(self.path) as zf:
            for info in zf.infolist():
                if not info.is_dir() and info.filename.endswith(self.suffix):
                    # header_offset stands in the data-offset seat of
                    # the shared chunk type; zipfile re-derives the
                    # true data start per member at read time
                    catalog.append((info.filename, info.header_offset,
                                    info.file_size))
        if not catalog:
            return [_MemberChunk(self.path, [], False)]
        n = min(self.num_partitions, len(catalog))
        chunks = [catalog[i::n] for i in range(n)]
        # offset order within a chunk: sequential disk reads
        chunks = [sorted(c, key=lambda t: t[1]) for c in chunks]
        return [_MemberChunk(self.path, c, False) for c in chunks]

    def read(self, partition: _MemberChunk):
        import zipfile

        if not partition.members:
            return
        with zipfile.ZipFile(partition.archive) as zf:
            # Re-look up members by header_offset: zf.open(name) goes
            # through NameToInfo, which keeps only the LAST entry per
            # name, so duplicate member names would all read the last
            # member's bytes (ADVICE r8). Opening the ZipInfo itself
            # reads the member this catalog row actually points at.
            by_offset = {i.header_offset: i for i in zf.infolist()}
            for name, offset, size in partition.members:
                with zf.open(by_offset[offset]) as f:
                    yield (name, f.read(), size)


class ZipMembersDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "zip_members"

    def schema(self):
        return SCHEMA

    def reader(self, schema):
        return ZipMembersReader(self.options)


def explode_archive_to_parquet(spark, archive_path: str, out_path: str,
                               *, suffix: str = "") -> None:
    """Re-container an archive once so every later query gets a
    splittable columnar scan — the scale fix for gzip's sequential
    stream (SURVEY §7.3#1). Routes .zip through the random-access
    zip source, everything else through the tar source."""
    if archive_path.endswith(".zip"):
        spark.dataSource.register(ZipMembersDataSource)
        fmt = "zip_members"
    else:
        spark.dataSource.register(TarMembersDataSource)
        fmt = "tar_members"
    (spark.read.format(fmt)
     .option("path", archive_path).option("suffix", suffix).load()
     .write.mode("overwrite").parquet(out_path))


# ---------------------------------------------------------------------------
# Indexed-gzip member access (SURVEY §7.3#1's deferred substrate fight)
# ---------------------------------------------------------------------------
# A .tar.gz is one deflate stream, so the baseline tar_members reader
# re-streams the gzip prefix in every task. But a gzip written with
# periodic FULL flushes (gzip --rsyncable, zlib Z_FULL_FLUSH, most
# chunked writers) contains restart points: a full flush emits an
# empty stored block (the 00 00 FF FF marker), byte-aligns the stream
# AND resets the dictionary, so raw inflate can resume at the next
# byte with no prior state. `build_gzip_sync_index` finds and
# VALIDATES those points in ONE linear pass (marker bytes can also
# occur inside ordinary block data — every candidate is test-resumed
# and its output compared against the linear truth before it enters
# the index); tasks then start at the nearest validated point below
# their member instead of at byte zero. Archives with no flush points
# (plain `gzip`) yield an empty index and fall back, documented, to
# the sequential-prefix path — re-containering stays the fix there.

_GZ_SYNC_MARKER = b"\x00\x00\xff\xff"
_GZ_VALIDATE_BYTES = 256


def _gzip_deflate_start(raw: bytes) -> int:
    """Byte offset where the raw deflate stream starts: 10-byte gzip
    header plus the optional FEXTRA/FNAME/FCOMMENT/FHCRC fields
    (RFC 1952). Raises ValueError if `raw` is not gzip OR if the
    header extends past the supplied prefix (a zero-terminated
    FNAME/FCOMMENT can be arbitrarily long) — callers that read from
    a file should use `_read_gzip_deflate_start`, which grows the
    prefix until the header fits."""
    if raw[:2] != b"\x1f\x8b":
        raise ValueError("not a gzip file")
    if len(raw) < 10:
        raise ValueError("gzip header extends past prefix")
    flg = raw[3]
    pos = 10
    if flg & 0x04:  # FEXTRA
        if pos + 2 > len(raw):
            raise ValueError("gzip header extends past prefix")
        xlen = int.from_bytes(raw[pos:pos + 2], "little")
        pos += 2 + xlen
    if flg & 0x08:  # FNAME
        pos = raw.index(b"\x00", pos) + 1
    if flg & 0x10:  # FCOMMENT
        pos = raw.index(b"\x00", pos) + 1
    if flg & 0x02:  # FHCRC
        pos += 2
    if pos > len(raw):
        raise ValueError("gzip header extends past prefix")
    return pos


def _read_gzip_deflate_start(fh, at: int = 0) -> int:
    """`_gzip_deflate_start` against a seekable file: read a growing
    prefix (4 KiB, 64 KiB, 1 MiB, ...) until the whole header —
    including arbitrarily long FNAME/FCOMMENT fields — fits. `at` is
    the absolute offset of the member header to parse (0 = the
    archive's first member; later members of a concatenated archive
    pass their own start). Returns the ABSOLUTE deflate-start
    offset. Leaves the file position unspecified; raises ValueError
    only for genuinely non-gzip input at `at`."""
    size = 4096
    while True:
        fh.seek(at)
        raw = fh.read(size)
        try:
            return at + _gzip_deflate_start(raw)
        except ValueError as e:
            if raw[:2] != b"\x1f\x8b" or len(raw) < size:
                raise ValueError("not a gzip file") from e
            size <<= 4


_GZ_INDEX_CHUNK = 1 << 20


def build_gzip_sync_index(path: str) -> list[tuple[int, int]]:
    """Streaming passes over a .gz file; returns validated
    (compressed_offset, uncompressed_offset) restart points,
    ascending. compressed_offset is the first byte AFTER a
    full-flush marker — or the deflate start of a second/later
    member of a concatenated archive — raw inflate started there
    with fresh state reproduces the stream from uncompressed_offset
    on (uncompressed coordinates are cumulative ACROSS members,
    matching GzipFile's view of a multi-member file).

    Three streamed passes, each O(chunk) memory — NEVER
    archive-sized (a 100 GB .tar.gz indexes without loading it):
    1. a pure byte scan for marker candidates (1 MiB windows with a
       3-byte overlap so a marker spanning a window boundary is
       still seen — no decompression at all);
    2. one linear inflate that snapshots the exact cumulative output
       length at each candidate (a full flush has flushed ALL
       pending output, so at a TRUE restart point that length IS the
       uncompressed offset);
    3. validation: each candidate is test-resumed with fresh inflate
       state and its first bytes compared against a forward-only
       GzipFile walk (ascending seeks decompress incrementally — one
       more linear scan, not one per candidate). Marker bytes inside
       ordinary block data fail either the inflate or the compare
       and never enter the index.
    """
    import zlib

    # pass 1: chunked marker scan, no decompression
    cands: list[int] = []
    with open(path, "rb") as fh:
        start = _read_gzip_deflate_start(fh)
        fh.seek(start)
        abs_at = start
        carry = b""
        while True:
            blk = fh.read(_GZ_INDEX_CHUNK)
            if not blk:
                break
            buf = carry + blk
            base = abs_at - len(carry)
            p = buf.find(_GZ_SYNC_MARKER)
            while p != -1:
                cands.append(base + p + 4)
                p = buf.find(_GZ_SYNC_MARKER, p + 1)
            abs_at += len(blk)
            carry = buf[-(len(_GZ_SYNC_MARKER) - 1):]
    # dedupe (overlap windows can re-find a boundary marker)
    cands = sorted(set(cands))

    # pass 2: exact uncompressed offsets at each candidate, PLUS a
    # restart point at every subsequent member's deflate start — a
    # multi-member archive indexes even with zero full-flush markers
    at = sorted(set(_gz_exact_offsets(path, cands)))
    if not at:
        return []

    # pass 3: validation
    import gzip as _gzip

    index: list[tuple[int, int]] = []
    with open(path, "rb") as fh, open(path, "rb") as fh2:
        gz = _gzip.GzipFile(fileobj=fh2)
        for comp_off, uncomp_off in at:
            r = zlib.decompressobj(wbits=-15)
            fh.seek(comp_off)
            try:
                got = r.decompress(fh.read(1 << 16), _GZ_VALIDATE_BYTES)
            except zlib.error:
                continue
            if not got:
                continue
            gz.seek(uncomp_off)
            want = gz.read(len(got))
            if got == want:
                index.append((comp_off, uncomp_off))
    return index


def _gz_exact_offsets(path: str,
                      comp_offs: list[int]) -> list[tuple[int, int]]:
    """Linear inflate that snapshots the exact uncompressed offset at
    each given compressed offset (ascending), walking ACROSS member
    boundaries of a concatenated (multi-member, RFC 1952 §2.2) gzip:
    when one member's deflate stream ends, the next member's header
    is parsed (footer + header skipped via ``unused_data``
    accounting) and its deflate start is emitted as a restart point
    of its own — so candidates in EVERY member get exact cumulative
    offsets and each member boundary becomes a seek target, the
    piece the 1M-member metadata.tar.gz parallelization story needs
    (SURVEY §7.3). The deflate stream is fed in slices bounded by
    the candidate offsets, chunked so memory stays O(chunk) — never
    archive-sized. Candidates that land inside a footer/header gap
    are skipped (they were marker-byte coincidences, not restart
    points)."""
    import zlib

    out: list[tuple[int, int]] = []
    targets = sorted(set(comp_offs))
    ti = 0
    with open(path, "rb") as fh:
        member_at = 0
        out_len = 0
        first = True
        while True:
            try:
                pos = _read_gzip_deflate_start(fh, member_at)
            except ValueError:
                break  # end of archive (or trailing garbage)
            if not first:
                out.append((pos, out_len))
            first = False
            while ti < len(targets) and targets[ti] < pos:
                ti += 1  # candidate fell in a footer/header gap
            fh.seek(pos)
            d = zlib.decompressobj(wbits=-15)
            while not d.eof:
                if ti < len(targets) and targets[ti] == pos:
                    out.append((pos, out_len))
                    ti += 1
                    continue
                limit = (targets[ti] if ti < len(targets)
                         else pos + _GZ_INDEX_CHUNK)
                blk = fh.read(min(_GZ_INDEX_CHUNK, limit - pos))
                if not blk:
                    return out  # truncated member: keep what we have
                out_len += len(d.decompress(blk))
                pos += len(blk)
            # next member header follows this member's 8-byte
            # CRC32/ISIZE footer; unused_data is what we over-fed
            member_at = pos - len(d.unused_data) + 8
    return out


# ---------------------------------------------------------------------------
# WebDataset-style tar shard WRITER (the serving format's write side)
# ---------------------------------------------------------------------------

_TAR_FLUSH_EVERY = 1 << 16


def write_tar_shards(df, out_dir: str, *, n_shards: int = 8,
                     member_col: str = "member",
                     content_col: str = "content",
                     gzip_shards: bool = False) -> None:
    """Write (member, content) rows as N tar shards — the
    WebDataset/tar-shard serving layout LLM training loaders stream
    (sample = named member, shard = sequential tar). Three contracts:

    - DETERMINISTIC BYTES: shard assignment is the repo's md5-based
      `stable_hash31` of the member name (pmod n_shards — never
      Spark's partition id, and never `hash()`, whose xxhash no SQL
      oracle can replay and whose abs() overflows at Int.MinValue),
      members sort by name within a shard, and every tar header pins
      mtime=0/uid=gid=0 — rerunning the writer reproduces identical
      files, the export.py byte-determinism story, and DuckDB can
      recompute the exact shard id of every member. Task retries just
      overwrite their own shard files (same bytes), so speculative
      execution is safe.
    - SELF-INDEXING COMPRESSION: with gzip_shards=True each shard is
      gzipped with a Z_FULL_FLUSH restart point every 64 KiB — the
      shards this engine WRITES are, by construction, the archives
      its OWN `build_gzip_sync_index` reader random-accesses. The
      write side closes the loop the indexed reader opened.
    - INDEX AT WRITE TIME (round 13): every shard also gets its
      `.gidx` sidecar written by the task that wrote the shard —
      member offsets are arithmetic (USTAR: 512-byte header +
      512-padded data, no tell() needed through tarfile's stream
      buffer), and the gzip sync points are recorded at the exact
      flush positions the sink emits. Even the FIRST read of a
      self-written shard skips both driver-side linear passes.
    - ONE PASS, NO DRIVER BYTES: rows repartition on the shard key
      (all rows of one shard land in one task; a task may own
      several shards and writes one file per shard value), and each
      task streams its Arrow batches straight into tarfile — content
      never passes through the driver.
    """
    import io
    import os
    import struct
    import tarfile as tf
    import zlib

    from pyspark.sql import functions as F

    from parlerproject_spark.functions.text import stable_hash31

    os.makedirs(out_dir, exist_ok=True)
    shard = (F.pmod(stable_hash31(F.col(member_col)),
                    F.lit(n_shards))).alias("__shard")
    prepped = (df.select(F.col(member_col).alias("__m"),
                         F.col(content_col).alias("__c"), shard)
               .repartition(n_shards, "__shard")
               .sortWithinPartitions("__shard", "__m"))

    def write_partition(rows):
        handles: dict[int, tuple] = {}

        def open_shard(sid: int):
            name = os.path.join(out_dir, f"shard-{sid:05d}.tar")
            members: list[tuple[str, int, int]] = []
            sync: list[tuple[int, int]] = []
            # logical (uncompressed-tar) write position, tracked
            # arithmetically: tarfile's stream mode buffers, so
            # tell()/byte-counting at addfile time would lag
            lpos = {"n": 0}
            if gzip_shards:
                name += ".gz"
                raw = open(name, "wb")
                raw.write(b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x00\xff")
                co = zlib.compressobj(6, zlib.DEFLATED, -15)
                state = {"crc": 0, "n": 0, "since_flush": 0}

                class _GzSink(io.RawIOBase):
                    def writable(self):
                        return True

                    def write(self, b):
                        b = bytes(b)
                        state["crc"] = zlib.crc32(b, state["crc"])
                        state["n"] += len(b)
                        state["since_flush"] += len(b)
                        raw.write(co.compress(b))
                        if state["since_flush"] >= _TAR_FLUSH_EVERY:
                            raw.write(co.flush(zlib.Z_FULL_FLUSH))
                            # restart point: first compressed byte
                            # AFTER the full-flush marker, at this
                            # uncompressed offset — exactly what
                            # build_gzip_sync_index would validate
                            sync.append((raw.tell(), state["n"]))
                            state["since_flush"] = 0
                        return len(b)

                sink = _GzSink()
                tar = tf.open(fileobj=sink, mode="w|",
                              format=tf.USTAR_FORMAT)

                def close():
                    tar.close()
                    raw.write(co.flush(zlib.Z_FINISH))
                    raw.write(struct.pack(
                        "<II", state["crc"] & 0xFFFFFFFF,
                        state["n"] & 0xFFFFFFFF))
                    raw.close()
                    # a flush can land exactly on end-of-stream (tar
                    # padding hitting the 64 KiB boundary at EOF) —
                    # such a point resumes nothing and the scanner
                    # rightly never emits it; drop for parity
                    write_archive_index(
                        name, members,
                        [p for p in sync if p[1] < state["n"]])
            else:
                fh = open(name, "wb")
                tar = tf.open(fileobj=fh, mode="w",
                              format=tf.USTAR_FORMAT)

                def close():
                    tar.close()
                    fh.close()
                    write_archive_index(name, members, [])
            return tar, close, members, lpos

        try:
            for row in rows:
                sid = int(row["__shard"])
                if sid not in handles:
                    handles[sid] = open_shard(sid)
                tar, _, members, lpos = handles[sid]
                body = bytes(row["__c"]) if row["__c"] is not None else b""
                info = tf.TarInfo(row["__m"])
                info.size = len(body)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                # USTAR regular member = one 512-byte header + data
                # padded to 512 — the offsets are deterministic
                members.append((row["__m"], lpos["n"] + 512, len(body)))
                lpos["n"] += 512 + ((len(body) + 511) // 512) * 512
                tar.addfile(info, io.BytesIO(body))
        finally:
            for _, close, _, _ in handles.values():
                close()
        return iter(())

    prepped.rdd.mapPartitions(write_partition).count()


def tar_shard_manifest(spark, out_dir: str):
    """Driver-side shard manifest (shards are bounded by n_shards):
    shard file name, byte size, member count, and whether the gzip
    stream carries validated restart points. Columns: shard,
    n_members, n_bytes, sync_points."""
    import os
    import tarfile as tf

    from parlerproject_spark.caching import literal_frame

    rows = []
    for fn in sorted(os.listdir(out_dir)):
        if not (fn.endswith(".tar") or fn.endswith(".tar.gz")):
            continue
        path = os.path.join(out_dir, fn)
        with tf.open(path, "r:*") as tar:
            n = sum(1 for m in tar if m.isfile())
        pts = (len(build_gzip_sync_index(path))
               if fn.endswith(".gz") else 0)
        rows.append((fn, n, os.path.getsize(path), pts))
    return literal_frame(spark, rows, "shard string, n_members long, "
                         "n_bytes long, sync_points long")
