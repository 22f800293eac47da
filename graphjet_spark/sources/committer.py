"""One stage-and-rename commit protocol for every durable directory.

Superstep state (:mod:`graphjet_spark.plans.checkpoints`, ``iter=<N>``),
the streaming folds' snapshots and corpus slices
(:mod:`graphjet_spark.streaming.ingest`, ``v=<batch_id>`` and
``b=<batch_id>``), edge-segment retention and the interchange sinks
(WARC, SNAP edge lists, JSONL) all publish through this module:

- ``commit_staged`` writes every part file into a stage directory of
  the attempt's own, ``<path>.__stage__<token>``: cancelled tasks of a
  failed job can still recreate their stage after the failure cleaned
  it up, so a retry that reused it would collide with them;
- only after the WHOLE write succeeds is the stage renamed onto
  ``<path>`` (atomic on POSIX; on overwrite the old output is removed
  immediately before the rename, the one minimal window accepted);
- a failed or killed write leaves ``<path>`` exactly as it was, either
  absent or holding the previous complete output, and at most stale
  ``.__stage__*`` directories, which the next attempt clears.

Versioned layouts name their children ``<prefix>=<n>``.  ``versions``
lists the ``n`` whose directory exists under exactly that name; stage
directories never match, and only ``commit_staged``'s rename creates
the name, so a listed version is complete and no reader needs a
``_SUCCESS`` marker.  ``expire`` keeps the newest ``k`` versions and
deletes the rest wholesale.

Reference analogue: a sealed segment is published only when complete
and the oldest segments are dropped wholesale (reference graphjet-core/
src/main/java/com/twitter/graphjet/bipartite/edgepool/
PowerLawDegreeEdgePool.java:72-99, single-writer memory-barrier
publication; bipartite/MultiSegmentReaderAccessibleInfoProvider.java:
86-90, drop-oldest).
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import uuid
from typing import Callable

STAGE_SUFFIX = ".__stage__"

def commit_staged(
    path: str, mode: str, write_fn: Callable[[str], None]
) -> None:
    """Run ``write_fn(staging_path)`` then atomically publish the
    staging directory at ``path``.

    ``mode`` mirrors Spark writer semantics: ``overwrite`` replaces any
    existing output at commit time; ``error`` / ``errorifexists``
    raises BEFORE any work if ``path`` exists; ``ignore`` is a no-op
    when ``path`` exists (Spark's DataFrameWriter contract).  ``append``
    is NOT supported: appending part files into a live directory has no
    atomic commit point under stage-and-rename, which is the whole
    guarantee of this module — callers get an explicit error instead of
    a silently unsafe write.  Failures inside ``write_fn`` propagate
    with ``path`` untouched.
    """
    if mode == "append":
        raise ValueError(
            "sink mode 'append' is not supported by staged commit: "
            "appending has no atomic publish point; write to a fresh "
            "path and union at read time instead"
        )
    if mode not in ("overwrite", "error", "errorifexists", "ignore"):
        raise ValueError(f"unsupported sink mode {mode!r}")
    if mode == "ignore" and os.path.exists(path):
        return
    if mode in ("error", "errorifexists") and os.path.exists(path):
        raise FileExistsError(f"output path {path!r} already exists")
    # stale staging from killed or failed attempts
    for stale in glob.glob(glob.escape(path + STAGE_SUFFIX) + "*"):
        shutil.rmtree(stale, ignore_errors=True)
    stage = path + STAGE_SUFFIX + uuid.uuid4().hex
    try:
        write_fn(stage)
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):  # a plain file squatting on the target
        os.remove(path)
    os.rename(stage, path)  # atomic commit point


def versions(root: str, prefix: str) -> list[int]:
    """Ascending ``n`` of every committed ``<prefix>=<n>`` directory
    under ``root`` (``[]`` when ``root`` does not exist)."""
    if not os.path.isdir(root):
        return []
    pat = re.compile(re.escape(prefix) + r"=(-?\d+)")
    return sorted(
        int(m.group(1))
        for m in map(pat.fullmatch, os.listdir(root))
        if m and os.path.isdir(os.path.join(root, m.group(0)))
    )


def expire(root: str, prefix: str, keep: int) -> list[int]:
    """Delete all but the newest ``keep`` versions under ``root``
    (``keep=0`` deletes every version); returns the deleted ``n``."""
    vs = versions(root, prefix)
    drop = vs[:-keep] if keep else vs
    for n in drop:
        shutil.rmtree(os.path.join(root, f"{prefix}={n}"))
    return drop
