"""Chunked, retrying, range-addressable remote file access (OP-SRC-2/5/6).

The reference reads remote backups three ways: streamed GET in 8 KiB chunks
with 5 retries and re-login (reference ufload/webdav.py:105-135), a
file-like object over HTTP Range requests with ``size``/``seek``/``read``
(ufload/httpfile.py:5-50), and a HEAD-then-GET dump fetch
(ufload/cli/main.py:412-438).

In the Spark engine, bulk reads belong to the datasource layer (the parquet
reader already does ranged reads; ``binaryFile`` streams whole objects, and
task retries replace the manual retry loop). What remains driver-side is
control-plane access — probing a dump's size before deciding to reload
(OP-STR-2), pulling a small manifest — and that is what this module
provides, transport-agnostic: an opener returns a file object given
``(url, offset)``, and :class:`RangeReader` layers sizing, seeking, chunked
reads and bounded retry on top. The default opener handles ``file://`` and
plain paths so everything is testable offline; :func:`make_http_opener`
provides the authenticated ranged-HTTP transport (stdlib ``urllib`` with a
``Range:`` header — reference httpfile.py:26-37) behind the same interface,
tested against a local ``http.server`` thread. :func:`make_hadoop_opener`
reads through the session's Hadoop ``FileSystem``, the storage the
datasource layer scans, for driver-side peeks at files a Spark job may
read next (the restore's ZIP central-directory peek).
"""

from __future__ import annotations

import io
import os
import time
import urllib.request
from collections.abc import Callable
from urllib.parse import urlparse

#: reference constants: 8 KiB chunks (webdav.py:122), 5 retries @ 3 s
#: (webdav.py:111-133). Retry sleep is injectable so tests don't wait.
CHUNK_SIZE = 8192
MAX_RETRIES = 5
RETRY_SLEEP_S = 3.0

Opener = Callable[[str, int], io.IOBase]


def local_opener(url: str, offset: int) -> io.IOBase:
    """Opener for file:// URLs and plain paths — seeks to ``offset``
    (the Range-request equivalent)."""
    parsed = urlparse(url)
    path = parsed.path if parsed.scheme == "file" else url
    f = open(path, "rb")
    f.seek(offset)
    return f


def local_size(url: str) -> int:
    """HEAD-equivalent for local files (content-length probe,
    reference httpfile.py:14-24, cli/main.py:413-428)."""
    parsed = urlparse(url)
    path = parsed.path if parsed.scheme == "file" else url
    return os.path.getsize(path)


def make_http_opener(
    user: str | None = None,
    password: str | None = None,
    timeout_s: float = 30.0,
    auth_base_url: str | None = None,
) -> tuple[Opener, Callable[[str], int]]:
    """(opener, sizer) pair speaking ranged HTTP via stdlib ``urllib`` —
    the reference's ``HttpFile`` transport (httpfile.py:14-24 HEAD size,
    26-37 ``Range: bytes=a-`` GET) with optional basic auth
    (cli/main.py:412-438's dump fetch). No third-party deps; plugs into
    :class:`RangeReader`/:func:`download` unchanged.

    Credentials are scoped to ``auth_base_url`` (the dump host/prefix) —
    required when ``user`` is given. Registering them for the bare scheme
    would make urllib replay them to ANY host that answers 401, including
    redirect targets (r2 ADVICE: credential leak beyond the dump host)."""
    handlers: list[urllib.request.BaseHandler] = []
    if user is not None:
        if auth_base_url is None:
            raise ValueError(
                "auth_base_url is required with credentials: basic auth must "
                "be scoped to the dump host, not every http(s) server"
            )
        mgr = urllib.request.HTTPPasswordMgrWithDefaultRealm()
        mgr.add_password(None, auth_base_url, user, password or "")
        handlers.append(urllib.request.HTTPBasicAuthHandler(mgr))
    director = urllib.request.build_opener(*handlers)

    def opener(url: str, offset: int) -> io.IOBase:
        req = urllib.request.Request(url)
        if offset:
            req.add_header("Range", f"bytes={offset}-")
        return director.open(req, timeout=timeout_s)

    def sizer(url: str) -> int:
        req = urllib.request.Request(url, method="HEAD")
        with director.open(req, timeout=timeout_s) as resp:
            return int(resp.headers["Content-Length"])

    return opener, sizer


class _JavaStream(io.RawIOBase):
    """Python file view of a JVM ``InputStream``: each ``read`` pulls one
    byte range across py4j, ``close`` closes the JVM stream."""

    def __init__(self, jstream):
        self._jstream = jstream

    def readable(self) -> bool:
        return True

    def read(self, n: int = -1) -> bytes:
        if n < 0:
            return bytes(self._jstream.readAllBytes())
        return bytes(self._jstream.readNBytes(n))

    def close(self) -> None:
        if not self.closed:
            self._jstream.close()
        super().close()


def make_hadoop_opener(spark) -> tuple[Opener, Callable[[str], int]]:
    """(opener, sizer) pair over the Hadoop ``FileSystem`` the session
    resolves for each URL — the storage ``binaryFile`` scans read, local,
    HDFS or object store alike — so a driver-side ranged read reaches the
    same bytes a distributed extract of that URL does. The opener is a
    positioned ``FileSystem.open``, the sizer ``getFileStatus().getLen()``
    (the reference's Range GET and HEAD, httpfile.py:14-37)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()

    def resolve(url: str):
        jpath = jvm.org.apache.hadoop.fs.Path(url)
        return jpath.getFileSystem(conf), jpath

    def opener(url: str, offset: int) -> io.IOBase:
        fs, jpath = resolve(url)
        jstream = fs.open(jpath)
        if offset:
            jstream.seek(offset)
        return _JavaStream(jstream)

    def sizer(url: str) -> int:
        fs, jpath = resolve(url)
        return fs.getFileStatus(jpath).getLen()

    return opener, sizer


class RangeReader:
    """File-like random access over a remote object (reference
    httpfile.py:5-50): ``size``, ``seek``/``tell``, and ``read(n)`` served
    by a fresh ranged open per call — no connection state to lose. Reads
    share the module's bounded-retry policy (a transient failure re-opens
    the range, up to ``max_retries``)."""

    def __init__(
        self,
        url: str,
        opener: Opener = local_opener,
        sizer: Callable[[str], int] = local_size,
        max_retries: int = MAX_RETRIES,
        retry_sleep_s: float = RETRY_SLEEP_S,
    ):
        self.url = url
        self._opener = opener
        self._size = sizer(url)
        self._pos = 0
        self._max_retries = max_retries
        self._retry_sleep_s = retry_sleep_s

    def size(self) -> int:
        return self._size

    def tell(self) -> int:
        return self._pos

    def seek(self, pos: int, whence: int = os.SEEK_SET) -> int:
        if whence == os.SEEK_SET:
            new = pos
        elif whence == os.SEEK_CUR:
            new = self._pos + pos
        elif whence == os.SEEK_END:
            new = self._size + pos
        else:
            raise ValueError(f"bad whence {whence}")
        if new < 0:
            # as a local file does: ``zipfile`` looks for the end record
            # 22 bytes before the end and treats this error as "too short"
            raise OSError(f"seek to {new}, before the start of {self.url}")
        self._pos = new
        return new

    def read(self, n: int = -1) -> bytes:
        if n < 0:
            n = self._size - self._pos
        if n == 0 or self._pos >= self._size:
            return b""
        last_err: Exception | None = None
        for attempt in range(self._max_retries):
            try:
                with self._opener(self.url, self._pos) as f:
                    data = f.read(n)
                self._pos += len(data)
                return data
            except Exception as e:  # noqa: BLE001 — retrying any transport error
                last_err = e
                if attempt < self._max_retries - 1 and self._retry_sleep_s:
                    time.sleep(self._retry_sleep_s)
        raise OSError(
            f"ranged read failed after {self._max_retries} attempts: {last_err}"
        )


def download(
    url: str,
    dest_path: str,
    *,
    opener: Opener = local_opener,
    chunk_size: int = CHUNK_SIZE,
    max_retries: int = MAX_RETRIES,
    retry_sleep_s: float = RETRY_SLEEP_S,
    on_retry: Callable[[int, Exception], None] | None = None,
) -> int:
    """Streamed chunked download with bounded retry — the reference's
    ``Client.download`` loop (webdav.py:105-135): on failure, sleep,
    re-open (its "re-login"), retry from scratch up to ``max_retries``.
    Returns bytes written."""
    last_err: Exception | None = None
    for attempt in range(max_retries):
        try:
            written = 0
            with open(dest_path, "wb") as out, opener(url, 0) as src:
                while True:
                    chunk = src.read(chunk_size)
                    if not chunk:
                        break
                    out.write(chunk)
                    written += len(chunk)
            return written
        except Exception as e:  # noqa: BLE001 — retrying any transport error
            last_err = e
            if on_retry is not None:
                on_retry(attempt, e)
            if attempt < max_retries - 1 and retry_sleep_s:
                time.sleep(retry_sleep_s)
    raise OSError(f"download failed after {max_retries} attempts: {last_err}")


# --- OP-SRC-3: chunked upload sink with progress ---------------------------

#: reference upload buffer: 10 MiB multipart chunks (webdav.py:156)
UPLOAD_CHUNK = 10 * 1024 * 1024

ProgressFn = Callable[[int, int | None, int | None], None]


class LocalChunkSink:
    """Filesystem-backed multipart sink — the transport the offline tests
    drive, shaped after the reference's SharePoint session (webdav.py:159-167
    ``startupload`` / ``continueupload`` / ``finishupload`` keyed by an
    upload id and a byte offset):

    - chunks land in a hidden staging file (``.<name>.<upload_id>.part``),
    - every chunk declares its offset, and the sink only accepts a chunk
      whose offset matches the staged size — a retried chunk (same offset)
      truncates back and rewrites, so retries are idempotent,
    - ``finish`` atomically renames staging → final: a crashed upload never
      leaves a half-written object at the published path (the same
      stage→publish discipline as the bulk loader).

    An HTTP transport implements the same three calls against a remote
    multipart API; everything above the sink (chunking, retry, progress) is
    transport-agnostic.
    """

    def __init__(self, root: str):
        self.root = root

    def _staging(self, remote_path: str, upload_id: str) -> str:
        d, name = os.path.split(os.path.join(self.root, remote_path))
        return os.path.join(d, f".{name}.{upload_id}.part")

    def start(self, remote_path: str, upload_id: str) -> None:
        staging = self._staging(remote_path, upload_id)
        os.makedirs(os.path.dirname(staging), exist_ok=True)
        with open(staging, "wb"):
            pass

    def write(self, remote_path: str, upload_id: str, offset: int, data: bytes) -> None:
        staging = self._staging(remote_path, upload_id)
        staged = os.path.getsize(staging)
        if offset > staged:
            raise OSError(f"chunk offset {offset} beyond staged {staged} bytes")
        with open(staging, "r+b") as f:
            f.seek(offset)
            f.write(data)
            f.truncate(offset + len(data))

    def finish(self, remote_path: str, upload_id: str, offset: int) -> None:
        staging = self._staging(remote_path, upload_id)
        staged = os.path.getsize(staging)
        if staged != offset:
            raise OSError(f"finish at {offset} but staged {staged} bytes")
        os.replace(staging, os.path.join(self.root, remote_path))


def upload(
    src,
    remote_path: str,
    sink,
    *,
    buffer_size: int = UPLOAD_CHUNK,
    max_retries: int = MAX_RETRIES,
    retry_sleep_s: float = RETRY_SLEEP_S,
    progress: ProgressFn | None = None,
    upload_id: str | None = None,
) -> int:
    """Chunked upload with per-chunk bounded retry and progress metering —
    the reference's multipart ``Client.upload`` (webdav.py:137-192: 10 MiB
    buffers, start/continue/finish keyed by a uuid upload id, percent
    progress callbacks) re-expressed over the transport-agnostic sink
    protocol above. ``src`` is a binary file object or a path. Returns
    bytes sent.

    Differences from the reference, on purpose:

    - every chunk is retried at its declared offset (idempotent at the
      sink) instead of failing the whole upload on one bad POST — the
      same bounded-retry policy as :func:`download`;
    - ``finish`` is ALWAYS issued, including when the payload is an exact
      multiple of the buffer size (the reference's read-then-break leaves
      that multipart session unfinished — webdav.py:188-190);
    - progress fires per chunk with ``(bytes_sent, total_or_None,
      percent_or_None)`` — the reference's ``progress_obj.write({'name':
      percent})`` hook (webdav.py:178-184) maps to the percent argument.

    Spark posture: DataFrame writes go through the committer (COVERAGE
    §2.1); this is the control-plane uploader for single artifacts — a
    packaged dump, a manifest, a model file — where the reference's
    byte-level semantics (resume offsets, progress, atomic finish) are
    the actual contract. Driver-side by design; never on the task hot path.
    """
    import uuid

    close_after = False
    if isinstance(src, (str, os.PathLike)):
        src = open(src, "rb")
        close_after = True
    try:
        try:
            size: int | None = os.fstat(src.fileno()).st_size
        except (OSError, AttributeError, io.UnsupportedOperation):
            size = None  # non-file stream: percent unavailable (reference: size=None)
        iid = upload_id or str(uuid.uuid1())

        def _attempt(fn, *args) -> None:
            last_err: Exception | None = None
            for attempt in range(max_retries):
                try:
                    fn(*args)
                    return
                except Exception as e:  # noqa: BLE001 — retrying any transport error
                    last_err = e
                    if attempt < max_retries - 1 and retry_sleep_s:
                        time.sleep(retry_sleep_s)
            raise OSError(
                f"upload chunk failed after {max_retries} attempts: {last_err}"
            )

        _attempt(sink.start, remote_path, iid)
        offset = 0
        while True:
            chunk = src.read(buffer_size)
            if not chunk:
                break
            _attempt(sink.write, remote_path, iid, offset, chunk)
            offset += len(chunk)
            if progress is not None:
                pct = round(offset * 100 / size) if size else None
                progress(offset, size, pct)
        _attempt(sink.finish, remote_path, iid, offset)
        return offset
    finally:
        if close_after:
            src.close()
