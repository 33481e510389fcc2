"""Round checkpoint / resume for iterative programs (SURVEY.md §2.1 R10).

The reference checkpoints its accumulator array after every round to
``page_rank_<minNodeId>_<nodesPerRound>.int`` and deletes the previous
file (Runner.java:67-88); on restart it parses the loop state back out
of the filename (Runner.java:261-264). The Spark-native equivalent:
parquet snapshots under ``<base>/round=<step>/`` — the directory name
carries the loop state exactly like the reference's filename — with
delete-previous retention, so disk stays bounded at one round.

These are the storage primitives of the graph-loop driver's
``ckpt_dir`` policy (operators.graph_algos._iterate), the engine's one
durable checkpoint: a loop given a ``ckpt_dir`` (``pagerank``,
``random_walk_counts``, the CLI's ``walk --ckpt-dir``) snapshots its
whole state after every round, continues from the snapshot (so losing
a round's local-checkpoint blocks costs nothing), and resumes from the
latest intact round on the next call. Every other lineage cut is a
non-durable ``localCheckpoint`` (functions.loop_checkpoint). The
directory is the caller's: the loop never deletes it, and it holds one
round once a write completes.

Parquet replaces the length-prefixed binary int format (ArrayStore
.java:13-80): columnar, compressed, splittable, schema-carrying.
"""

from __future__ import annotations

import re
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from neo_olap_spark.tables import checked_schema

_ROUND_RE = re.compile(r"^round=(\d+)$")
_TMP_ROUND_RE = re.compile(r"^_tmp_round=\d+$")


def round_dir(base: str, step: int) -> str:
    return f"{base}/round={step}"


def latest_round(base: str) -> int | None:
    """Parse the resume point out of the directory name — the analog of
    the reference's filename parse (Runner.java:261-264)."""
    p = Path(base)
    if not p.is_dir():
        return None
    rounds = [int(m.group(1)) for d in p.iterdir() if (m := _ROUND_RE.match(d.name))]
    return max(rounds) if rounds else None


def write_round(dfs: dict[str, DataFrame], base: str, step: int) -> None:
    """Snapshot named DataFrames under round=<step>, then delete the
    previous rounds (Runner.java:67-71 delete-after-write retention).

    Crash-safe: everything is written into a ``_tmp_round=<step>``
    staging directory, which is RENAMED to ``round=<step>`` only once
    every table landed — latest_round never matches a partial
    snapshot, so an interrupted writer resumes from the previous
    intact round."""
    base_p = Path(base)
    if base_p.is_dir():
        # drop ALL stale staging dirs, not just this step's: a crash
        # mid-snapshot followed by a resume from an earlier round
        # would otherwise orphan its _tmp_round=<n> when the resumed
        # run stops short of round n
        for d in base_p.iterdir():
            if _TMP_ROUND_RE.match(d.name):
                shutil.rmtree(d, ignore_errors=True)
    tmp = base_p / f"_tmp_round={step}"
    for name, df in dfs.items():
        df.write.mode("overwrite").parquet(str(tmp / name))
    final = Path(round_dir(base, step))
    shutil.rmtree(final, ignore_errors=True)
    tmp.rename(final)
    for d in Path(base).iterdir():
        if (m := _ROUND_RE.match(d.name)) and int(m.group(1)) != step:
            shutil.rmtree(d, ignore_errors=True)


def read_round(
    spark: SparkSession, base: str, step: int, name: str, schema: StructType
) -> DataFrame:
    """Frame ``name`` of round=<step>, read with the loop's own
    ``schema`` after a footer check (tables.checked_schema): no
    schema-inference job, and a snapshot whose columns differ from the
    loop's state raises ValueError naming the frame and the column
    instead of reading NULLs."""
    path = f"{round_dir(base, step)}/{name}"
    return spark.read.schema(checked_schema(path, schema, f"frame {name}")).parquet(path)
