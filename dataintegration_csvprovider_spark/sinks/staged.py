"""Staged commit for text sinks: the one write path CSV and JSONL share.

Spark writes the rendered lines in parallel (one part file per task) into
a uniquely named staging directory inside the destination folder. The
commit is then either

- single file: the optional header, then every ``part-*`` file in
  partition order, streamed through one text-mode copy into a temp file
  inside the staging directory, which ``os.replace`` moves to the final
  name. The bytes equal a single-task write of the same frame, since a
  shuffle-free coalesce to one partition concatenates partitions in this
  order, but the write stays parallel and driver memory stays flat in
  the output size; or
- directory: the part directory is renamed to the final name (scale
  mode; consumers glob ``part-*``).

The staging directory is removed whatever happens, so a failed job
leaves neither staging nor temp files behind.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame


def _parts_in_order(directory: str) -> list[str]:
    """``part-<task %05d>-<job uuid>-c<file %03d>.txt`` files by task
    index; the index widens past 99,999, so compare it as a number."""
    names = [n for n in os.listdir(directory) if n.startswith("part-")]
    names.sort(key=lambda n: (int(n.split("-", 2)[1]), n))
    return [os.path.join(directory, n) for n in names]


def write_staged(
    lines: DataFrame,
    folder: str,
    name: str,
    single_file: bool,
    header: str | None = None,
    encoding: str = "UTF-8",
) -> str:
    """Write the one-string-column frame ``lines`` as ``folder/name`` and
    return that path: a file of ``header`` plus every line in partition
    order, encoded as ``encoding``, or (``single_file=False``) a directory
    of UTF-8 part files with the header in ``_header.csv``."""
    os.makedirs(folder, exist_ok=True)
    staging = tempfile.mkdtemp(prefix="_staging_", dir=folder)
    try:
        parts = os.path.join(staging, "parts")
        lines.write.text(parts)
        final = os.path.join(folder, name)
        if not single_file:
            if header is not None:
                with open(os.path.join(parts, "_header.csv"), "w", encoding="utf-8") as fh:
                    fh.write(header + "\n")
            if os.path.isdir(final):
                shutil.rmtree(final)
            os.replace(parts, final)
            return final
        tmp = os.path.join(staging, name)
        with open(tmp, "w", encoding=encoding, newline="\n") as out:
            if header is not None:
                out.write(header + "\n")
            for part in _parts_in_order(parts):
                with open(part, encoding="utf-8", newline="") as fh:
                    shutil.copyfileobj(fh, out)
        os.replace(tmp, final)
        return final
    finally:
        shutil.rmtree(staging, ignore_errors=True)
