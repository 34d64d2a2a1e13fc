"""The put-if-absent commit log both stores publish through (after the
Delta Lake transaction log): ``NvdStore`` (``nvd/etl.py``) and
``ParquetUpsertStore`` (``streaming/foreach_sink.py``) each hold one
``CommitLog``, and no other module commits store state.

A store's state is ``_log/_<version:08d>.json``. A version's data files
are staged under ``_staging/<uuid>/``, committed, then renamed into
place; every ``latest()`` first rolls the latest entry's pending renames
forward, which heals a crash between commit and rename. Spark's listing
skips ``_`` names, so a directory scan never sees the log or staged
files. An entry carries ``version``, ``staging`` and ``files`` (relative
to the store); its other keys are the store's own.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable

LOG_DIR = "_log"
STAGING_DIR = "_staging"


def _listed(name: str) -> bool:
    """Spark's file-listing rule: names starting with ``.`` or ``_`` are
    hidden, except ``_``-prefixed partition directories (``k=v``)."""
    return not name.startswith(".") and (not name.startswith("_") or "=" in name)


def _data_files(root: str) -> list[str]:
    """The data files a Spark scan of ``root`` lists, relative to it."""
    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = sorted(d for d in dirs if _listed(d))
        rel = os.path.relpath(dirpath, root)
        out += [os.path.normpath(os.path.join(rel, f)) for f in sorted(files) if _listed(f)]
    return out


class CommitLog:
    """The put-if-absent log of the store at ``root``."""

    def __init__(self, root: str):
        self.root = root

    def entry_path(self, version: int) -> str:
        return os.path.join(self.root, LOG_DIR, f"_{version:08d}.json")

    def entry(self, version: int) -> dict:
        with open(self.entry_path(version)) as f:
            return json.load(f)

    def versions(self) -> list[int]:
        try:
            names = os.listdir(os.path.join(self.root, LOG_DIR))
        except FileNotFoundError:
            return []
        return sorted(int(n[1:-5]) for n in names if n.startswith("_") and n.endswith(".json"))

    def latest(self) -> dict | None:
        """The latest entry, its pending renames rolled forward."""
        versions = self.versions()
        if not versions:
            return None
        entry = self.entry(versions[-1])
        self.roll_forward(entry)
        return entry

    def commit(self, entry: dict) -> None:
        """Put-if-absent: the entry appears whole or not at all, and a
        version that already exists raises ``FileExistsError``."""
        log = os.path.join(self.root, LOG_DIR)
        os.makedirs(log, exist_ok=True)
        tmp = os.path.join(log, f".{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(entry, f)
        try:
            os.link(tmp, self.entry_path(entry["version"]))
        finally:
            os.unlink(tmp)

    def roll_forward(self, entry: dict) -> None:
        """Finish an entry's renames out of its staging directory, each
        data file with its checksum sidecar. A rename is done once its
        source is gone, so this is idempotent and may race another
        process doing the same."""
        staging = entry.get("staging")
        if not staging or not os.path.isdir(os.path.join(self.root, staging)):
            return
        for rel in entry["files"]:
            head, tail = os.path.split(rel)
            os.makedirs(os.path.join(self.root, head), exist_ok=True)
            for name in (rel, os.path.join(head, f".{tail}.crc")):
                try:
                    os.rename(os.path.join(self.root, staging, name), os.path.join(self.root, name))
                except FileNotFoundError:
                    pass  # already moved, or no sidecar
        shutil.rmtree(os.path.join(self.root, staging), ignore_errors=True)

    def publish(self, base: int, write: Callable[[str], dict | None]) -> dict | None:
        """Commit one staged write as version ``base + 1``, listing its
        data files, and roll it forward; return the entry, or None.
        ``write`` fills a fresh staging directory laid out as the store
        and returns the entry's own fields, or None to commit nothing. A
        failed write or a lost commit (``FileExistsError``) removes the
        staged files and leaves the store as it was."""
        staging = f"{STAGING_DIR}/{uuid.uuid4().hex}"
        path = os.path.join(self.root, staging)
        committed = False
        try:
            fields = write(path)
            if fields is None:
                return None
            entry = {"version": base + 1, "staging": staging, "files": _data_files(path), **fields}
            self.commit(entry)
            committed = True
        finally:
            if not committed:
                shutil.rmtree(path, ignore_errors=True)
        self.roll_forward(entry)
        return entry
