"""Stage-and-rename commit discipline for connector sinks.

The engine's superstep state has had this since round 2
(:mod:`graphjet_spark.plans.checkpoints`: write to ``<dir>.tmp``, then
one atomic POSIX ``rename`` as the commit point, mirroring an Iceberg
snapshot swap).  The interchange sinks (WARC, SNAP edge lists, JSONL)
previously wrote part files straight into the output path, so a job
killed mid-write could leave a partial directory that a downstream
reader would happily consume.  ``commit_staged`` lifts the checkpoint
discipline to every sink:

- all part files are written into a stage directory of the attempt's
  own, ``<path>.__stage__<token>``: cancelled tasks of a failed job can
  still recreate their stage after the failure cleaned it up, so a
  retry that reused it would collide with them;
- only after the WHOLE job succeeds is the staging directory renamed
  onto ``<path>`` (atomic on POSIX; on overwrite the old output is
  removed immediately before the rename, the same minimal window
  ``plans/checkpoints.py`` accepts for superstep state);
- a failed or killed job leaves ``<path>`` exactly as it was — either
  absent or holding the previous complete output — and at most stale
  ``.__stage__*`` directories, which the next attempt clears.

Reference analogue: safe publication of a sealed segment — readers
never observe a half-built structure (reference graphjet-core/src/main/
java/com/twitter/graphjet/bipartite/edgepool/PowerLawDegreeEdgePool.
java:72-99, single-writer memory-barrier publication).
"""

from __future__ import annotations

import glob
import os
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
