"""Hardlink scan staging — the one way a group of files is scanned.

Every multi-file scan in the ingest path (the runner's signature-group
reads, validation's CSV date probe and ndjson key probe) reads a
DIRECTORY of hardlinks instead of an explicit path list:

- reader construction is one ``listStatus`` instead of a per-path JVM
  qualification round (~1.8 ms/path on local files: 7.4 s of driver
  wall at 4096 paths, INGEST_SCALE r15);
- each link is named ``<id>-<basename>``, so :func:`link_id` recovers
  the caller's id for every scanned row straight from
  ``input_file_name()`` — no basename map, no rank join, and no file
  name (spaces, ``%``, duplicates across directories) can break it;
- no link name starts with ``_`` or ``.``, which Spark's file listing
  silently skips — a group holding ``_late.csv`` still scans every
  file.

The basename is kept after the id because Spark picks the compression
codec by extension (``.csv.gz``). Hardlinks are metadata-only (~12 µs
each) and keep the data alive through later moves of the originals.

:func:`stage_link_dir` returns ``None`` when any file cannot be linked
(remote path, missing file, cross-device tempdir, hardlink-less
filesystem); the links made so far are rolled back and the caller reads
those files at their own paths.

The link dir must OUTLIVE every Spark action over the scan (plans are
lazy); callers own cleanup via :func:`cleanup_dirs`.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Sequence

from pyspark.sql import Column, functions as F


def stage_link_dir(
    paths: list[str], ids: Sequence[int] | None = None
) -> str | None:
    """Hardlink ``paths`` into a fresh temp dir as ``<id>-<basename>``
    (``ids`` defaults to each path's list index); return the dir, or
    ``None`` when some file cannot be linked. The caller must keep the
    dir alive until every action over the scan has run, then remove it
    (:func:`cleanup_dirs`)."""
    if ids is None:
        ids = range(len(paths))
    d = tempfile.mkdtemp(prefix="mdp_scanstage_")
    try:
        for i, p in zip(ids, paths):
            os.link(p, os.path.join(d, f"{int(i)}-{os.path.basename(p)}"))
    except OSError:
        shutil.rmtree(d, ignore_errors=True)
        return None
    return d


def link_id() -> Column:
    """The ``<id>`` of the link each row of a staged scan was read from,
    as a long. Evaluate it over the scan itself, before any shuffle:
    ``input_file_name`` is empty after one."""
    return F.regexp_extract(
        F.input_file_name(), r"/([0-9]+)-[^/]*$", 1
    ).cast("long")


def cleanup_dirs(dirs: list[str]) -> None:
    """Remove staging dirs; advisory (links are worthless once the
    batch's actions have run, and tempdir reaping would get them)."""
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
