"""Test helper: a multi-file copy of a saved store.

``storage.load_version`` loads a store whose datasets each fit one scan
split as single-partition frames, and any other store as written. Tests
that pin the plans of both layouts build the second one with
:func:`multi_file_copy`.
"""

from __future__ import annotations

import os
import shutil

from lapis_silo_spark.storage import latest_version


def multi_file_copy(spark, root: str, dest: str, files: int = 2) -> str:
    """Copy the latest version of the store at ``root`` to ``dest``, with
    every dataset rewritten as ``files`` round-robin Parquet files (a
    dataset with fewer rows gets fewer); returns ``dest``."""
    version = latest_version(root)
    src = os.path.join(root, "versions", version)
    dst = os.path.join(dest, "versions", version)
    # directories, the manifest and the lineage definitions
    shutil.copytree(src, dst, ignore=shutil.ignore_patterns(
        "*.parquet", ".*.crc", "_SUCCESS"
    ))
    for dirpath, _, names in os.walk(src):
        if any(n.endswith(".parquet") for n in names):
            out = os.path.join(dst, os.path.relpath(dirpath, src))
            spark.read.parquet(dirpath).repartition(files).write.mode(
                "overwrite"
            ).parquet(out)
    with open(os.path.join(dest, "latest"), "w") as fh:
        fh.write(version)
    return dest
