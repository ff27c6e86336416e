"""The benchmark's on-disk namespace, and the only code that deletes.

A run writes to exactly two kinds of place inside the checkout:

- ``perfbench/_work/`` (generated data, index directories,
  ``SPARK_LOCAL_DIRS``, the temp directory);
- ``spark-warehouse/<name>_<TAG>``: the registry's own index gates, keyed
  on the basename of the sf directory the benchmark generates.

``remove`` refuses every other path, so a wrong argument cannot delete
anything the benchmark does not own."""

from __future__ import annotations

import glob
import os
import shutil

TAG = "perfbench_sf"
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORK_DIR = os.path.join(BENCH_DIR, "_work")


def owned(path: str, root: str) -> bool:
    """True for a path inside ``<BENCH_DIR>/_work`` or a
    ``<root>/spark-warehouse/<name>_<TAG>`` directory."""
    real = os.path.realpath(path)
    work = os.path.realpath(WORK_DIR)
    if real == work or real.startswith(work + os.sep):
        return True
    parent, base = os.path.split(real)
    return (
        parent == os.path.realpath(os.path.join(root, "spark-warehouse"))
        and base.endswith("_" + TAG)
        and len(base) > len(TAG) + 1
    )


def remove(path: str, root: str) -> None:
    if not owned(path, root):
        raise ValueError(f"refusing to delete {path!r}: outside the benchmark namespace")
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path)
    elif os.path.lexists(path):
        os.remove(path)


def reset(root: str) -> None:
    """Delete everything the benchmark owns: before a run, so every run
    starts from the same state, and after it, so none survives."""
    for path in glob.glob(os.path.join(root, "spark-warehouse", f"*_{TAG}")):
        remove(path, root)
    remove(WORK_DIR, root)
