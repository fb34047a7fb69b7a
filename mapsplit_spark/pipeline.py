"""The tiling stage chain — assign + border expansion → [sessions] →
[clip] → [optimize] → manifests — with optional stage-boundary
checkpoints, per-partition lineage + metrics tables (north_rule
requirements).

Without a workdir every stage is the lazy frame its operator returns;
with one, each stage is persisted and resumable.  The reference's
closest analog is the "appointment date" incremental mechanism
(MapSplit.java:1506-1547); ours is stage-boundary parquet checkpoints
(Iceberg tables on a real cluster — same layout, hidden partitioning on
tile): each stage writes

* ``{workdir}/{stage}/data/``      — the stage output (parquet)
* ``{workdir}/{stage}/metrics/``   — per-partition rows: (stage,
  partition_id, n_rows) + stage wall time, input fingerprint
* ``{workdir}/{stage}/_STAGE_OK``  — completion marker carrying the
  stage's config hash and data schema

``run`` skips any stage whose marker matches the current config hash —
kill-and-resume therefore recomputes only unfinished stages and yields
byte-identical manifests (validated by
tests/test_pipeline_multimodal.py::test_pipeline_resume_identical and
tests/test_cli_incremental.py::test_pipeline_resume_with_sessions_stage).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .operators.assign import assign_and_expand
from .operators.optimize import merged_assignments
from .sinks import read_back, write_parquet
from .sinks.manifests import tile_manifests


def _cfg_hash(cfg: dict) -> str:
    return hashlib.sha256(json.dumps(cfg, sort_keys=True).encode()).hexdigest()[:16]


def _marker(path: str) -> str:
    return os.path.join(path, "_STAGE_OK")


def _stored_schema(stage_dir: str, cfg_hash: str) -> StructType | None:
    """The data schema recorded in a stage's marker when the marker
    matches ``cfg_hash``; None when the stage must be (re)built."""
    try:
        with open(_marker(stage_dir)) as fh:
            marker = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None
    if marker.get("cfg_hash") != cfg_hash or "schema" not in marker:
        return None
    return StructType.fromJson(marker["schema"])


def _write_stage(df: DataFrame, stage: str, stage_dir: str, cfg_hash: str,
                 lineage: dict) -> DataFrame:
    """Persist ``df`` as the stage's data + metrics + marker (which
    records the data schema); → the data read back with that schema."""
    t0 = time.time()
    data = os.path.join(stage_dir, "data")
    df.write.mode("overwrite").parquet(data)
    out = read_back(df, data)
    metrics = (
        out.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count("*").alias("n_rows"))
        .withColumn("stage", F.lit(stage))
        .withColumn("wall_sec", F.lit(round(time.time() - t0, 3)))
    )
    # the marker's row count is the sum of the per-partition rows, read
    # on the metrics write's own job (no second scan)
    rows = write_parquet(metrics, os.path.join(stage_dir, "metrics"),
                         total=F.sum("n_rows"))["total"]
    with open(_marker(stage_dir), "w") as fh:
        json.dump({
            "cfg_hash": cfg_hash, "stage": stage, "rows": rows,
            "schema": df.schema.jsonValue(),
            "wall_sec": round(time.time() - t0, 3), "lineage": lineage,
            "finished_at_epoch": time.time(),
        }, fh)
    return out


class TilingPipeline:
    """assign → [sessions] → [clip] → [optimize] → manifests, one chain
    for lazy (``workdir=None``) and checkpointed runs.

    ``run`` leaves the chain's relations on the instance: ``pairs`` —
    the base-zoom (element_id, tile_x, tile_y) assignment after
    sessions/clip; ``tiled`` — the output-zoom (element_id, zoom,
    tile_x, tile_y) relation (merged under ``node_limit``); and
    ``manifests``."""

    STAGES = ("assign", "sessions", "clip", "tiled", "manifests")

    def __init__(self, spark: SparkSession, workdir: str | None = None, *,
                 zoom: int = 13, border: float = 0.1, id_col: str = "image_id",
                 lon_col: str = "lon", lat_col: str = "lat",
                 poly_path: str | None = None, poly_id: str | None = None,
                 node_limit: int = 0, sessions_path: str | None = None,
                 complete_sessions: bool = False,
                 multipolygon_only: bool = False):
        self.spark = spark
        self.workdir = workdir
        self.cfg = {
            "zoom": zoom, "border": border, "id_col": id_col,
            "lon_col": lon_col, "lat_col": lat_col,
            "poly_path": poly_path, "poly_id": poly_id,
            "node_limit": node_limit, "sessions_path": sessions_path,
            "complete_sessions": complete_sessions,
            "multipolygon_only": multipolygon_only,
        }
        self.cfg_hash = _cfg_hash(self.cfg)
        self._tables: dict[str, DataFrame] = {}
        if workdir:
            os.makedirs(workdir, exist_ok=True)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def read(self, path: str) -> DataFrame:
        """The parquet table at ``path``, read once per pipeline: every
        read runs a schema job, so the chain and its caller share one
        frame per input table."""
        if path not in self._tables:
            self._tables[path] = self.spark.read.parquet(path)
        return self._tables[path]

    @functools.cached_property
    def rings(self):
        """(outers, inners) of the clip polygons, loaded once."""
        from .operators.clip import load_rings

        return load_rings(self.read(self.cfg["poly_path"]), self.cfg["poly_id"])

    def _stage(self, stage: str, upstream: str | None, build) -> DataFrame:
        """One stage of the chain: ``build()`` as is without a workdir;
        with one, written once (parquet + metrics + ``_STAGE_OK``) and
        read back with its schema — a marker with this config's hash
        skips ``build`` and supplies the schema, so no read infers one."""
        if not self.workdir:
            return build()
        stage_dir = self._dir(stage)
        schema = _stored_schema(stage_dir, self.cfg_hash)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(
                os.path.join(stage_dir, "data"))
        lineage = {"input": self._input, "cfg": self.cfg}
        if upstream:
            lineage["upstream"] = self._dir(upstream)
        return _write_stage(build(), stage, stage_dir, self.cfg_hash, lineage)

    def run(self, input_path: str) -> DataFrame:
        """Build (lazy) or execute/resume (workdir) the chain; sets
        ``pairs``, ``tiled`` and ``manifests`` and returns the manifests."""
        c = self.cfg
        self._input = input_path
        pairs = self._stage("assign", None, lambda: assign_and_expand(
            self.read(input_path).select(c["id_col"], c["lon_col"], c["lat_col"]),
            c["id_col"], c["lon_col"], c["lat_col"], c["zoom"], c["border"]))
        last = "assign"

        if c["sessions_path"]:
            from .operators.sessions import session_assignments

            pairs = self._stage("sessions", last, lambda: session_assignments(
                pairs, self.read(c["sessions_path"]),
                complete=c["complete_sessions"],
                multipolygon_only=c["multipolygon_only"]))
            last = "sessions"

        if c["poly_path"]:
            from .operators.clip import clip_assignments, clip_tiles

            def clipped():
                kept = clip_tiles(pairs.select("tile_x", "tile_y").distinct(),
                                  *self.rings, c["zoom"])
                return clip_assignments(pairs, kept)

            pairs = self._stage("clip", last, clipped)
            last = "clip"
        self.pairs = pairs

        # §2.5 optimize — the output-zoom relation; payload/raster keys
        # derive from the SAME relation as the manifests, so every output
        # agrees on tile identity.  Only a real merge is its own stage.
        def merged():
            return merged_assignments(pairs, c["zoom"], c["node_limit"])

        if c["node_limit"] > 0:
            tiled = self._stage("tiled", last, merged)
            last = "tiled"
        else:
            tiled = merged()
        if not self.workdir:
            # lazy chain: one reuse point for the manifests and the
            # caller's payload/raster joins (a persisted stage is its own)
            tiled = tiled.localCheckpoint(eager=False)
        self.tiled = tiled

        self.manifests = self._stage("manifests", last,
                                     lambda: self._manifests(tiled))
        return self.manifests

    def _manifests(self, tiled: DataFrame) -> DataFrame:
        return tile_manifests(tiled, self.cfg["zoom"], assume_distinct=True)

    def restrict(self, tiles: DataFrame) -> None:
        """Narrow ``tiled`` and ``manifests`` to the (zoom, tile_x,
        tile_y) rows of ``tiles`` (the --date-file modified tiles).  Lazy
        manifests are re-aggregated from the narrowed relation — its
        tile-keyed semi-join leaves the aggregation no shuffle of its
        own; persisted ones are semi-joined as stored."""
        key = ["zoom", "tile_x", "tile_y"]
        self.tiled = self.tiled.join(tiles, key, "left_semi")
        self.manifests = (self.manifests.join(tiles, key, "left_semi")
                          if self.workdir else self._manifests(self.tiled))

    def metrics(self) -> DataFrame:
        paths = [
            os.path.join(self._dir(s), "metrics") for s in self.STAGES
            if os.path.exists(os.path.join(self._dir(s), "metrics"))
        ]
        return self.spark.read.option("mergeSchema", "false").parquet(*paths)
