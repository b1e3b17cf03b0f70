"""Derived-artifact store: the one module that keys, publishes and checks
what ops queries derive from an input table (near-dup sets, IVF
centroids, BPE merges, sq8 codes). A key is the artifact kind plus every
input of its computation, with input tables named by ``fingerprint`` (their
bytes, not their mtime). Publish is a uuid tmp name moved into place with
``os.replace``/``os.rename``, the warehouse manifest's primitive, so
concurrent writers of one key never expose a half-written artifact. A
directory artifact carries a ``LAYOUT_FILE`` sidecar, checked on open.
"""

from __future__ import annotations

import hashlib
import json as _json
import os
import shutil
import tempfile
import uuid

import pyarrow.dataset as ds

# the leading "_" keeps Spark's and pyarrow's file listings off it
LAYOUT_FILE = "_ethos_layout.json"


def fingerprint(path: str) -> str:
    """sha1 over the bytes of every data file of a parquet table (a file or
    a dataset directory), read through the dataset's filesystem handle.
    Driver-side reads only: no Spark job."""
    dataset = ds.dataset(path, format="parquet")
    h = hashlib.sha1()
    for f in sorted(dataset.files):
        with dataset.filesystem.open_input_stream(f) as stream:
            h.update(stream.readall())
    return h.hexdigest()


def _publish_json(path: str, value) -> None:
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    try:
        with open(tmp, "w") as f:
            _json.dump(value, f)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def write_layout(path: str, layout: dict) -> None:
    """Publish the layout sidecar of the artifact dir ``path``."""
    os.makedirs(path, exist_ok=True)
    _publish_json(os.path.join(path, LAYOUT_FILE), layout)


def check_layout(path: str, layout: dict) -> None:
    """Raise ValueError unless ``path`` records exactly ``layout``."""
    try:
        with open(os.path.join(path, LAYOUT_FILE)) as f:
            stored = _json.load(f)
    except FileNotFoundError:
        raise ValueError(
            f"store {path} has no {LAYOUT_FILE}: stored layout unknown, "
            f"this build expects {layout}"
        ) from None
    if stored != layout:
        raise ValueError(
            f"store {path} has layout {stored}; this build expects {layout}"
        )


class ArtifactStore:
    """Immutable keyed artifacts under ``root`` (default: ``ethos-artifacts``
    in the temp dir, resolved when the store is made)."""

    def __init__(self, root: str | None = None):
        self.root = root or os.path.join(tempfile.gettempdir(), "ethos-artifacts")

    def path(self, kind: str, *parts) -> str:
        key = hashlib.sha1(repr(parts).encode()).hexdigest()[:20]
        return os.path.join(self.root, kind, key)

    def json(self, kind: str, parts: tuple, compute):
        """The stored JSON value for the key, else ``compute()`` published."""
        f = self.path(kind, *parts) + ".json"
        if os.path.exists(f):
            with open(f) as fh:
                return _json.load(fh)
        value = compute()
        os.makedirs(os.path.dirname(f), exist_ok=True)
        _publish_json(f, value)
        return value

    def dir(self, kind: str, parts: tuple, layout: dict, build) -> str:
        """The artifact dir for the key, built by ``build(tmp_dir)`` when
        absent; its layout sidecar must equal ``layout``."""
        final = self.path(kind, *parts)
        if not os.path.isdir(final):
            tmp = f"{final}.tmp-{uuid.uuid4().hex}"
            try:
                build(tmp)
                write_layout(tmp, layout)
                os.rename(tmp, final)
            except OSError:
                if not os.path.isdir(final):  # not a lost publish race
                    raise
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        check_layout(final, layout)
        return final
