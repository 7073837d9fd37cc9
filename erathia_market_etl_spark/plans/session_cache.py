"""Session-scoped cache for frames that several queries share.

Within one Spark application (the bench run, the driver's correctness
sweep, a user's interactive session) a shared stage such as the MinHash
band table or the funnel's quality-gate frame is built once per input
directory and reused by every consumer. Values are deterministic, so
reuse is invisible in the results.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# input directories whose frames are kept per process
MAX_DIRS = 4

# (applicationId, abspath(sf_dir)) -> {frame name: frame}, oldest first
_FRAMES: dict[tuple[str, str], dict[str, DataFrame]] = {}


def session_frame(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """The frame ``name`` over ``sf_dir`` for this Spark application,
    built by ``build()`` on first use and returned as is afterwards.

    ``build`` chooses the frame's storage level. Entries are keyed by
    ``(applicationId, abspath(sf_dir))``. When a directory beyond
    ``MAX_DIRS`` arrives, every frame of the oldest directory is
    unpersisted and dropped together, so a long-lived session sweeping
    many directories does not accumulate persisted corpora, and no
    frame outlives the frames it was derived from.

    Assumes the input under ``sf_dir`` does not change during the
    session: a directory rewritten in place keeps serving the frames
    built from its earlier contents.
    """
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    frames = _FRAMES.get(key)
    if frames is None:
        while len(_FRAMES) >= MAX_DIRS:
            for df in _FRAMES.pop(next(iter(_FRAMES))).values():
                df.unpersist()
        frames = _FRAMES[key] = {}
    if name not in frames:
        frames[name] = build()
    return frames[name]
