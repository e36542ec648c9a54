"""Filesystem abstraction for engine *metadata* and segment management.

The reference ships four custom blob stores (file/memory/S3/HTTP PODs,
`lakota/pod.py`); Spark already reads/writes segment data over any Hadoop
filesystem, so the only thing needing an abstraction here is the small-file
metadata traffic (commit log, registry, content-address renames, GC) plus
two backend-aware hooks for bulk segment IO:

- ``spark_read_uris(rel_dirs)``: URIs Spark can scan for the given segment
  dirs. Hadoop-readable backends return their native URIs (distributed
  IO); non-Hadoop backends (HTTP) materialize through a local cache.
- ``arrow_readable``: when False, executors cannot open the store, so
  the segment writer's tasks hand their encoded pages back and the
  driver publishes them through this FS (`segwriter.py`).

Three implementations:

- ``FS``: pyarrow.fs — local/S3/GCS/HDFS under one API. `Repo("s3://
  bucket/path")` works wherever pyarrow + the matching Spark Hadoop
  connector do.
- ``HttpFS``: a remote repo served by `lakota_spark.server` (the
  reference's HTTP POD + `lakota serve`, `lakota/server.py:57-161`,
  `lakota/http_pod.py:10-107` — same capability, our own protocol).
- ``CacheFS``: read-through local cache over any FS (the reference's
  layered CachePOD, `lakota/pod.py:475-533`): content-addressed names
  make cached reads immutable-safe, and Spark scans run against the
  local copies.

Atomicity notes (object stores): local uses write-temp + atomic move; S3
PUTs are atomic per object but `move` is copy+delete. The engine's naming
discipline makes that safe — revision files and segment dirs are
content-addressed, so a racing duplicate write produces the same name with
the same bytes (the reference's SKIP-WRITE idempotence,
`lakota/pod.py:201-204`).
"""

from __future__ import annotations

import os
import posixpath
import threading
from collections import OrderedDict

_SPARK_SCHEME = {"s3": "s3a"}  # pyarrow scheme -> hadoop connector scheme


def open_fs(root: str, cache_dir: str | None = None):
    """FS factory: http(s) roots get an HttpFS behind a read-through
    cache (Spark scans need local bytes), ``memory://`` an in-process
    MemFS behind the same cache; anything else is pyarrow-backed,
    optionally cache-wrapped (``cache_dir``) for slow remotes."""
    scheme = root.split("://", 1)[0] if "://" in root else "file"
    if scheme in ("http", "https"):
        return CacheFS(HttpFS(root), cache_dir)
    if scheme == "memory":
        return CacheFS(MemFS(root), cache_dir)
    fs = FS(root)
    return CacheFS(fs, cache_dir) if cache_dir else fs


class BaseFS:
    """Interface + generic algorithms shared by every backend.

    All paths are repo-root-relative; subclasses provide the primitive
    IO (`ls/walk/read_bytes/write_bytes_atomic/exists/makedirs/
    remove_file/remove_tree/move/file_sizes`)."""

    uri: str
    scheme: str
    is_local: bool = False
    #: backend exposes a pyarrow FileSystem (`.fs` + `.full()`) that
    #: executors can reopen from ``uri``: driver-local reads skip Spark,
    #: and segment-writer tasks stage their pages straight into the store
    arrow_readable: bool = False

    #: process-wide I/O byte counters keyed "<Backend>.<op>" (reference
    #: `POD._metrics`, `lakota/pod.py:58-75`) — cheap observability for
    #: cache hit-rates and replication volume. CacheFS is a pass-through:
    #: its inner/cache backends do the counting.
    _metrics: dict[str, int] = {}

    @classmethod
    def reset_metrics(cls) -> None:
        BaseFS._metrics.clear()

    @classmethod
    def metrics(cls) -> dict[str, int]:
        return dict(BaseFS._metrics)

    def _count(self, op: str, nbytes: int) -> None:
        key = f"{type(self).__name__}.{op}"
        BaseFS._metrics[key] = BaseFS._metrics.get(key, 0) + nbytes

    # -- path helpers ------------------------------------------------------

    def local_path(self, *parts: str) -> str | None:
        return None

    def spark_uri(self, *parts: str) -> str:
        raise NotImplementedError(
            f"{type(self).__name__} is not Hadoop-readable"
        )

    def spark_read_uris(self, rel_dirs: list[str]) -> list[str]:
        """URIs Spark can scan for these (immutable, content-addressed)
        segment dirs."""
        return [self.spark_uri(d) for d in rel_dirs]

    # -- generic algorithms ------------------------------------------------

    def copy_tree(
        self, rel_src: str, rel_dst: str, other: "BaseFS | None" = None
    ) -> None:
        """Copy a directory tree, possibly across backends (pull/push)."""
        src = other or self
        self.makedirs(rel_dst)
        for sub, is_dir in src.walk(rel_src):
            dst = posixpath.join(rel_dst, sub)
            if is_dir:
                self.makedirs(dst)
            else:
                self.write_bytes_atomic(
                    dst, src.read_bytes(posixpath.join(rel_src, sub))
                )

    @staticmethod
    def combine_sha1(per_file: list[str]) -> str:
        """Deterministic segment digest: sha1 over the ordered per-file
        digests (a Merkle-style combine — order matters, bytes don't
        re-flow)."""
        import hashlib

        return hashlib.sha1("".join(per_file).encode()).hexdigest()  # noqa: S324

    # -- primitives (subclass responsibility) ------------------------------

    def ls(self, rel: str, sort: bool = True) -> list[str]:
        """``sort=False`` permits arbitrary order — the changelog's
        hot path lists thousands of revision files per commit and needs
        only set semantics, so skipping the O(N log N) sort matters.
        Backends may ignore the hint (remote listing cost dominates)."""
        raise NotImplementedError

    def walk(self, rel: str) -> list[tuple[str, bool]]:
        """Recursive listing: sorted (subpath, is_dir) pairs, subpath
        relative to ``rel``."""
        raise NotImplementedError

    def read_bytes(self, rel: str) -> bytes:
        raise NotImplementedError

    def write_bytes_atomic(self, rel: str, data: bytes) -> None:
        raise NotImplementedError

    def exists(self, rel: str) -> bool:
        raise NotImplementedError

    def makedirs(self, rel: str) -> None:
        raise NotImplementedError

    def remove_file(self, rel: str) -> None:
        raise NotImplementedError

    def remove_tree(self, rel: str) -> None:
        raise NotImplementedError

    def move(self, rel_src: str, rel_dst: str) -> None:
        raise NotImplementedError

    def file_sizes(self, rel: str) -> dict[str, int]:
        raise NotImplementedError


class FS(BaseFS):
    """pyarrow.fs-backed rooted filesystem view (local/S3/GCS/HDFS)."""

    def __init__(self, root_uri: str):
        from pyarrow import fs as pafs

        if "://" not in root_uri:
            root_uri = "file://" + os.path.abspath(root_uri)
        self.uri = root_uri.rstrip("/")
        self.scheme = self.uri.split("://", 1)[0]
        self.fs, self.root = pafs.FileSystem.from_uri(self.uri)
        self.is_local = self.scheme == "file"
        self.arrow_readable = True

    # -- path helpers ------------------------------------------------------

    def full(self, *parts: str) -> str:
        return posixpath.join(self.root, *[p for p in parts if p])

    def spark_uri(self, *parts: str) -> str:
        scheme = _SPARK_SCHEME.get(self.scheme, self.scheme)
        return f"{scheme}://{self.full(*parts)}"

    def local_path(self, *parts: str) -> str | None:
        return self.full(*parts) if self.is_local else None

    # -- small-file IO -----------------------------------------------------

    def ls(self, rel: str, sort: bool = True) -> list[str]:
        if self.is_local:
            # hot path: the changelog lists its directory on every
            # commit/read — os.scandir is ~5x cheaper than a pyarrow
            # FileSelector round-trip for local dirs
            try:
                with os.scandir(self.full(rel)) as it:
                    names = [e.name for e in it]
                return sorted(names) if sort else names
            except (FileNotFoundError, NotADirectoryError):
                # NotADirectoryError: path exists as a regular file —
                # treat like the pyarrow FileSelector branch (empty
                # listing), keeping both backends' error contracts equal
                return []
        from pyarrow import fs as pafs

        sel = pafs.FileSelector(self.full(rel), allow_not_found=True)
        return sorted(
            posixpath.basename(info.path) for info in self.fs.get_file_info(sel)
        )

    def walk(self, rel: str) -> list[tuple[str, bool]]:
        from pyarrow import fs as pafs

        root = self.full(rel)
        sel = pafs.FileSelector(root, recursive=True, allow_not_found=True)
        out = []
        for info in self.fs.get_file_info(sel):
            sub = posixpath.relpath(info.path, root)
            out.append((sub, info.type == pafs.FileType.Directory))
        return sorted(out)

    def read_bytes(self, rel: str) -> bytes:
        if self.is_local:
            with open(self.full(rel), "rb") as fh:
                data = fh.read()
            self._count("read", len(data))
            return data
        with self.fs.open_input_stream(self.full(rel)) as fh:
            data = fh.read()
        self._count("read", len(data))
        return data

    def write_bytes_atomic(self, rel: str, data: bytes) -> None:
        """Atomic-enough publish: temp + move on local FS; direct PUT on
        object stores (a PUT is atomic; names are content-addressed)."""
        self._count("write", len(data))
        path = self.full(rel)
        self.makedirs(posixpath.dirname(rel))
        if self.is_local:
            # plain os IO: pyarrow's local output stream spins up a
            # background-writer thread per open — ~1 ms of pure overhead
            # on the sub-KB changelog/revision writes. os.replace keeps
            # the same atomicity (and overwrite-wins matches the
            # content-addressed collision semantics).
            tmp = f"{path}.tmp{os.getpid()}-{threading.get_ident()}"
            with open(tmp, "wb") as fh:
                fh.write(data)
            os.replace(tmp, path)
        else:
            with self.fs.open_output_stream(path) as fh:
                fh.write(data)

    # -- tree ops ----------------------------------------------------------

    def exists(self, rel: str) -> bool:
        if self.is_local:
            return os.path.exists(self.full(rel))
        from pyarrow import fs as pafs

        info = self.fs.get_file_info(self.full(rel))
        return info.type != pafs.FileType.NotFound

    def makedirs(self, rel: str) -> None:
        if rel:
            if self.is_local:
                os.makedirs(self.full(rel), exist_ok=True)
            else:
                self.fs.create_dir(self.full(rel), recursive=True)

    def remove_file(self, rel: str) -> None:
        try:
            self.fs.delete_file(self.full(rel))
        except FileNotFoundError:
            pass

    def remove_tree(self, rel: str) -> None:
        try:
            self.fs.delete_dir(self.full(rel))
        except FileNotFoundError:
            pass

    def move(self, rel_src: str, rel_dst: str) -> None:
        """Rename (file or dir). Local: atomic; object stores: copy+delete
        (safe here per the content-addressing discipline above)."""
        self.fs.move(self.full(rel_src), self.full(rel_dst))

    def file_sizes(self, rel: str) -> dict[str, int]:
        from pyarrow import fs as pafs

        sel = pafs.FileSelector(self.full(rel), allow_not_found=True)
        return {
            posixpath.basename(i.path): i.size
            for i in self.fs.get_file_info(sel)
            if i.type == pafs.FileType.File
        }


class HttpFS(BaseFS):
    """Remote repo over HTTP, served by `lakota_spark.server.serve`.

    The reference's HTTP POD (`lakota/http_pod.py:10-107`) pairs with
    `lakota serve`; this is the same capability with a deliberately tiny
    verb set: GET bytes, GET ?op=ls|walk|info|sizes, PUT bytes,
    DELETE ?op=file|tree, POST ?op=move|mkdir. Not Hadoop-readable —
    `open_fs` wraps it in a CacheFS so Spark scans hit local copies.
    """

    is_local = False

    def __init__(self, root_uri: str):
        self.uri = root_uri.rstrip("/")
        self.scheme = self.uri.split("://", 1)[0]

    def _url(self, rel: str, **params: str) -> str:
        from urllib.parse import quote, urlencode

        url = f"{self.uri}/{quote(rel)}" if rel else self.uri + "/"
        if params:
            url += "?" + urlencode(params)
        return url

    def _request(self, method: str, rel: str, data: bytes | None = None,
                 **params: str):
        from urllib import error, request

        req = request.Request(
            self._url(rel, **params), data=data, method=method
        )
        try:
            with request.urlopen(req) as resp:  # noqa: S310 - repo URL
                return resp.read()
        except error.HTTPError as exc:
            if exc.code == 404:
                raise FileNotFoundError(rel) from exc
            raise

    def _json(self, rel: str, **params: str):
        import json

        return json.loads(self._request("GET", rel, **params))

    def ls(self, rel: str, sort: bool = True) -> list[str]:
        try:
            return sorted(name for name, _ in self._json(rel, op="ls"))
        except FileNotFoundError:
            return []

    def walk(self, rel: str) -> list[tuple[str, bool]]:
        try:
            return sorted(
                (sub, bool(d)) for sub, d in self._json(rel, op="walk")
            )
        except FileNotFoundError:
            return []

    def read_bytes(self, rel: str) -> bytes:
        data = self._request("GET", rel)
        self._count("read", len(data))
        return data

    def write_bytes_atomic(self, rel: str, data: bytes) -> None:
        self._count("write", len(data))
        self._request("PUT", rel, data=data)

    def exists(self, rel: str) -> bool:
        return self._json(rel, op="info")["type"] != "missing"

    def makedirs(self, rel: str) -> None:
        if rel:
            self._request("POST", rel, op="mkdir")

    def remove_file(self, rel: str) -> None:
        try:
            self._request("DELETE", rel)
        except FileNotFoundError:
            pass

    def remove_tree(self, rel: str) -> None:
        try:
            self._request("DELETE", rel, op="tree")
        except FileNotFoundError:
            pass

    def move(self, rel_src: str, rel_dst: str) -> None:
        self._request("POST", rel_src, op="move", dst=rel_dst)

    def file_sizes(self, rel: str) -> dict[str, int]:
        try:
            return {
                name: int(size)
                for name, size in self._json(rel, op="sizes")
            }
        except FileNotFoundError:
            return {}


class MemFS(BaseFS):
    """In-process blob store (reference MemPOD, `lakota/pod.py:354-472`).

    A dict of path→bytes plus an explicit directory set; same named
    store per process for the same URI (like the reference's registry of
    memory pods), so `Repo("memory://x")` opened twice shares state.
    Not Hadoop-readable — `open_fs` pairs it with a CacheFS so Spark
    scans run on disk-cached copies. Useful for tests and as the fast
    layer of a layered cache.
    """

    _STORES: dict[str, tuple[dict, set, dict]] = {}

    is_local = False

    def __init__(self, root_uri: str = "memory://", lru_size: int | None = None):
        """``lru_size`` (bytes, also settable as ``memory://x?lru_size=N``)
        caps the store: least-recently-used files are evicted once total
        payload exceeds the cap (reference MemPOD's generational LRU,
        `lakota/pod.py:354-472` — same observable contract, simpler
        recency-ordered-dict mechanics). Only meaningful for cache layers:
        an evicted file reads as FileNotFoundError, so never cap a store
        that is itself the repo of record."""
        base, _, query = root_uri.partition("?")
        if query:
            params = dict(p.split("=", 1) for p in query.split("&") if "=" in p)
            if "lru_size" in params:
                lru_size = int(params["lru_size"])
        self.uri = base.rstrip("/")
        self.scheme = "memory"
        self.files, self.dirs, self._meta = self._STORES.setdefault(
            self.uri, (OrderedDict(), set(), {"cap": None, "size": 0})
        )
        if lru_size is not None:
            self._meta["cap"] = lru_size

    def _evict(self, keep: str) -> None:
        cap = self._meta["cap"]
        if cap is None:
            return
        while self._meta["size"] > cap and len(self.files) > 1:
            oldest = next(iter(self.files))
            if oldest == keep:
                break  # an oversized value stays readable (reference parity)
            self._meta["size"] -= len(self.files.pop(oldest))

    def ls(self, rel: str, sort: bool = True) -> list[str]:
        rel = rel.strip("/")
        prefix = rel + "/" if rel else ""
        names = set()
        for path in list(self.files) + list(self.dirs):
            if path != rel and path.startswith(prefix):
                names.add(path[len(prefix):].split("/", 1)[0])
        return sorted(names)

    def walk(self, rel: str) -> list[tuple[str, bool]]:
        rel = rel.strip("/")
        prefix = rel + "/" if rel else ""
        out = []
        for path in self.files:
            if path.startswith(prefix):
                out.append((path[len(prefix):], False))
        for path in self.dirs:
            if path != rel and path.startswith(prefix):
                out.append((path[len(prefix):], True))
        return sorted(out)

    def read_bytes(self, rel: str) -> bytes:
        rel = rel.strip("/")
        try:
            data = self.files[rel]
        except KeyError:
            raise FileNotFoundError(rel)
        self.files.move_to_end(rel)  # refresh LRU recency
        self._count("read", len(data))
        return data

    def write_bytes_atomic(self, rel: str, data: bytes) -> None:
        rel = rel.strip("/")
        self.makedirs(posixpath.dirname(rel))
        if rel in self.files:
            self._meta["size"] -= len(self.files[rel])
        self.files[rel] = bytes(data)
        self.files.move_to_end(rel)
        self._meta["size"] += len(data)
        self._count("write", len(data))
        self._evict(keep=rel)

    def exists(self, rel: str) -> bool:
        rel = rel.strip("/")
        return rel in self.files or rel in self.dirs or any(
            p.startswith(rel + "/") for p in self.files
        )

    def makedirs(self, rel: str) -> None:
        rel = rel.strip("/")
        parts = [p for p in rel.split("/") if p]
        for i in range(1, len(parts) + 1):
            self.dirs.add("/".join(parts[:i]))

    def remove_file(self, rel: str) -> None:
        data = self.files.pop(rel.strip("/"), None)
        if data is not None:
            self._meta["size"] -= len(data)

    def remove_tree(self, rel: str) -> None:
        rel = rel.strip("/")
        prefix = rel + "/"
        for path in [p for p in self.files if p == rel or p.startswith(prefix)]:
            self._meta["size"] -= len(self.files[path])
            del self.files[path]
        self.dirs -= {d for d in self.dirs if d == rel or d.startswith(prefix)}

    def move(self, rel_src: str, rel_dst: str) -> None:
        src, dst = rel_src.strip("/"), rel_dst.strip("/")
        if src in self.files:
            self.makedirs(posixpath.dirname(dst))
            old = self.files.get(dst)
            if old is not None:  # overwrite: keep LRU byte accounting exact
                self._meta["size"] -= len(old)
            self.files[dst] = self.files.pop(src)
            return
        if not self.exists(src):
            raise FileNotFoundError(rel_src)
        prefix = src + "/"
        for path in [p for p in self.files if p.startswith(prefix)]:
            target = dst + "/" + path[len(prefix):]
            old = self.files.get(target)
            if old is not None:
                self._meta["size"] -= len(old)
            self.files[target] = self.files.pop(path)
        for d in [d for d in self.dirs if d == src or d.startswith(prefix)]:
            self.dirs.discard(d)
            self.dirs.add(dst + d[len(src):])
        self.makedirs(dst)

    def file_sizes(self, rel: str) -> dict[str, int]:
        rel = rel.strip("/")
        prefix = rel + "/" if rel else ""
        return {
            path[len(prefix):]: len(data)
            for path, data in self.files.items()
            if path.startswith(prefix) and "/" not in path[len(prefix):]
        }


class CacheFS(BaseFS):
    """Read-through local cache over any FS (reference CachePOD,
    `lakota/pod.py:475-533`).

    Safe because everything the engine reads by path is immutable:
    revision files and segment dirs are content-addressed, so a cached
    copy can never go stale — only unreferenced (GC evicts alongside).
    Listings/existence always hit the remote (they DO change); file
    reads fill the cache; writes are write-through so a writer's own
    reads are local. ``spark_read_uris`` materializes whole segment dirs
    (marker-completed, so a crashed partial fetch re-fetches) and lets
    Spark scan local bytes — this is what makes a non-Hadoop remote
    (HTTP) usable as a Spark source at all, and what lkweb-style
    deployments use to keep hot segments off the network.
    """

    def __init__(self, inner: BaseFS, cache_dir: str | None = None):
        import tempfile

        self.inner = inner
        self._own_cache = cache_dir is None
        self.cache_root = cache_dir or tempfile.mkdtemp(prefix="lakota-cache-")
        self.cache = FS(self.cache_root)
        self.uri = inner.uri
        self.scheme = inner.scheme

    _MARKER = "_CACHED"  # leading underscore: ignored by Spark scans

    # -- read-through ------------------------------------------------------

    def read_bytes(self, rel: str) -> bytes:
        if self.cache.exists(rel):
            return self.cache.read_bytes(rel)
        data = self.inner.read_bytes(rel)
        self.cache.write_bytes_atomic(rel, data)
        return data

    def spark_read_uris(self, rel_dirs: list[str]) -> list[str]:
        for rel in rel_dirs:
            marker = posixpath.join(rel, self._MARKER)
            if self.cache.exists(marker):
                continue
            for sub, is_dir in self.inner.walk(rel):
                sub_rel = posixpath.join(rel, sub)
                if not is_dir and not self.cache.exists(sub_rel):
                    self.cache.write_bytes_atomic(
                        sub_rel, self.inner.read_bytes(sub_rel)
                    )
            self.cache.write_bytes_atomic(marker, b"")
        return [self.cache.spark_uri(rel) for rel in rel_dirs]

    # -- write-through + delegation ---------------------------------------

    def write_bytes_atomic(self, rel: str, data: bytes) -> None:
        self.inner.write_bytes_atomic(rel, data)
        self.cache.write_bytes_atomic(rel, data)

    def ls(self, rel: str, sort: bool = True) -> list[str]:
        return self.inner.ls(rel, sort=sort)

    def walk(self, rel: str) -> list[tuple[str, bool]]:
        return self.inner.walk(rel)

    def exists(self, rel: str) -> bool:
        return self.inner.exists(rel)

    def makedirs(self, rel: str) -> None:
        self.inner.makedirs(rel)

    def file_sizes(self, rel: str) -> dict[str, int]:
        return self.inner.file_sizes(rel)

    def remove_file(self, rel: str) -> None:
        self.inner.remove_file(rel)
        self.cache.remove_file(rel)

    def remove_tree(self, rel: str) -> None:
        self.inner.remove_tree(rel)
        self.cache.remove_tree(rel)

    def move(self, rel_src: str, rel_dst: str) -> None:
        self.inner.move(rel_src, rel_dst)
        # cheap coherence: drop BOTH cached paths — the source (gone on the
        # remote) and any previously cached copy of the destination, which
        # the remote overwrite just made stale (e.g. rename_collection
        # moving a registry json onto a name that was read earlier)
        for rel in (rel_src, rel_dst):
            for evict in (self.cache.remove_tree, self.cache.remove_file):
                try:
                    evict(rel)
                except OSError:
                    pass
