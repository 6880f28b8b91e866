"""Object-store IO (SURVEY §2.1 S5 / §2.2 K3) behind a pluggable backend.

Reference behavior reproduced (``src/gcs-io.js:10-30`` +
``scripts/entrypoint.sh:31-57`` usage):

- ``download_or_empty``: fetch an object to a local landing path; a
  MISSING object writes the empty-JSON default (``'{}'``) instead of
  failing — the cold-start semantics the snapshot diff relies on (an
  absent previous snapshot means "everything is delta").
- ``upload``: publish a local file to the store (the reference sets
  content-type/no-cache metadata; backends may ignore hints they don't
  support).

The backend protocol is three methods over bytes; :class:`LocalFSStore`
is the in-tree implementation (this container has no cloud SDK or
network). A GCS/S3 backend plugs in behind the same protocol without
touching callers — the pipeline code holds no ``gs://`` specifics,
exactly like the geocoder transports and the collector transport.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Protocol

EMPTY_JSON_DEFAULT = b"{}"


class ObjectStore(Protocol):
    def exists(self, key: str) -> bool: ...

    def get(self, key: str) -> bytes: ...

    def put(self, key: str, data: bytes, content_type: str = "application/json") -> None: ...

    def list(self, prefix: str) -> list[str]: ...


@dataclass
class LocalFSStore:
    """Filesystem-backed ObjectStore: key → ``<root>/<key>``. Used by
    tests and single-node runs; semantics (missing-object behavior, key
    listing, overwrite-on-put) mirror a cloud bucket."""

    root: str

    def _path(self, key: str) -> str:
        p = os.path.normpath(os.path.join(self.root, key))
        if not p.startswith(os.path.normpath(self.root) + os.sep):
            raise ValueError(f"key escapes store root: {key}")
        return p

    def exists(self, key: str) -> bool:
        return os.path.isfile(self._path(key))

    def get(self, key: str) -> bytes:
        with open(self._path(key), "rb") as f:
            return f.read()

    def put(self, key: str, data: bytes, content_type: str = "application/json") -> None:
        p = self._path(key)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, p)  # atomic publish, no torn reads

    def list(self, prefix: str) -> list[str]:
        base = os.path.normpath(self.root)
        out = []
        for dirpath, _, files in os.walk(base):
            for fn in files:
                key = os.path.relpath(os.path.join(dirpath, fn), base)
                key = key.replace(os.sep, "/")
                if key.startswith(prefix):
                    out.append(key)
        return sorted(out)


def download_or_empty(store: ObjectStore, key: str, local_path: str) -> bool:
    """S5: land ``key`` at ``local_path``; a missing object writes the
    empty-JSON default and returns False (gcs-io.js:10-21)."""
    os.makedirs(os.path.dirname(os.path.abspath(local_path)), exist_ok=True)
    if not store.exists(key):
        with open(local_path, "wb") as f:
            f.write(EMPTY_JSON_DEFAULT)
        return False
    with open(local_path, "wb") as f:
        f.write(store.get(key))
    return True


def upload(store: ObjectStore, local_path: str, key: str) -> None:
    """K3: publish a local file to the store (gcs-io.js:23-30)."""
    with open(local_path, "rb") as f:
        store.put(key, f.read())

