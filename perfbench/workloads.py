"""The benchmark's workloads: one user-started job each, run in a closed
loop by ``run.py``.

A workload owns its inputs (``prepare``), one operation (``op``: a job
run or a stream drain, the timed unit), the check of that operation's
output (``check``, never timed) and a traced twin of the operation
(``traced_op``) that calls each layer's public function itself, forces
its result inside a span and writes the same output, so the same check
applies to it.
"""

from __future__ import annotations

import io
import os
import shutil
import sqlite3
from contextlib import nullcontext, redirect_stdout

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from . import gen

ZOOM = 13
BORDER = 0.1
NODE_LIMIT = 2000
RADIUS = 3
STREAM_BANDS = 4


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _quiet(main, argv: list[str]) -> str:
    """Run a job's ``main(argv)`` with its summary line captured."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        main(argv)
    return buf.getvalue()


def _force(df, sp: dict, key: str = "rows_out"):
    """Materialize ``df`` inside the open span; its row count rides the
    checkpoint job as an observed metric (no extra job)."""
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    sp[key] = obs.get["n"]
    return out


def manifest_digest(path: str) -> tuple[dict, int, int]:
    """(digest over flattened (zoom, x, y, id) rows, tile rows, Σn) of a
    manifests parquet directory; a row whose n differs from its id count
    poisons the digest."""
    t = pq.read_table(path, columns=["zoom", "tile_x", "tile_y", "element_ids", "n"])
    lens = t.column("element_ids").combine_chunks().value_lengths().to_numpy()
    n = t.column("n").to_numpy()
    ids = t.column("element_ids").combine_chunks().flatten().to_numpy(zero_copy_only=False)
    rep = [np.repeat(t.column(c).to_numpy(), lens) for c in ("zoom", "tile_x", "tile_y")]
    d = gen.digest_rows(*rep, ids)
    if not np.array_equal(lens, n):
        d["sum"] = "n-mismatch"
    return d, t.num_rows, int(n.sum())


def pair_digest(path: str) -> dict:
    """Digest of the distinct (id_a, id_b, hamming) rows under ``path``."""
    if not os.path.exists(path):
        return gen.digest_rows(np.empty(0, np.int64))
    t = pq.read_table(path, columns=["id_a", "id_b", "hamming"])
    rows = np.unique(np.stack([t.column(c).to_numpy() for c in ("id_a", "id_b", "hamming")],
                              axis=1), axis=0)
    return gen.digest_rows(rows[:, 0], rows[:, 1], rows[:, 2])


class Workload:
    name = ""
    session_args: dict = {}  # how the job itself calls get_spark
    sizes: dict = {}

    def __init__(self, work: str, seed: int, size: str = "bench"):
        self.seed = seed
        self.size = size
        self.params = self.sizes[size]
        tag = "-".join(f"{k}{v}" for k, v in sorted(self.params.items()))
        self.input_dir = os.path.join(work, "inputs", f"{self.name}-s{seed}-{tag}")
        self.run_dir = os.path.join(work, "runs", self.name)
        self.meta: dict = {}
        self.reference = None

    def prepare(self) -> dict:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.meta = gen.cached(self.input_dir, self.build)
        return self.meta

    def path(self, name: str) -> str:
        return os.path.join(self.input_dir, name)

    def out(self, k) -> str:
        return os.path.join(self.run_dir, f"op{k}")

    def warmup(self, spark) -> None:
        """The warm-up pass, timed as set-up: one operation that pays for
        codegen, JIT and Python worker start-up."""
        self.op(spark, "warmup")

    def warmup_check(self, spark) -> bool:
        ok = self.check(spark, "warmup")
        self.discard("warmup")
        return ok

    def has_input(self) -> bool:
        return True

    def stage(self, k) -> None:
        """Make operation ``k``'s input arrive (not timed)."""

    def out_bytes(self, k) -> int:
        return dir_bytes(self.out(k))

    def discard(self, k) -> None:
        shutil.rmtree(self.out(k), ignore_errors=True)

    def finish(self, spark, tracer=None) -> bool:
        """End-of-run check over all operations; True if it passed.  In a
        traced run the layers it calls are traced too."""
        return True

    # subclasses: build(out_dir) -> meta, op(spark, k) -> input rows,
    # check(spark, k) -> bool, traced_op(spark, tracer, k) -> rows


class SplitFull(Workload):
    """``split_job`` with sessions, complete relations, polygon clip,
    optimize and MBTiles: the full paper pipeline."""

    name = "split_full"
    session_args = {"app": "split-job"}
    sizes = {"bench": {"images": 10_000}, "tiny": {"images": 600}}

    def build(self, out_dir):
        return gen.make_split_full(out_dir, self.seed, self.params["images"])

    def argv(self, k) -> list[str]:
        out = self.out(k)
        return ["--input", self.path("images.parquet"), "--output", out,
                "--zoom", str(ZOOM), "--border", str(BORDER),
                "--sessions", self.path("sessions.parquet"), "--complete-sessions",
                "--poly", self.path("clip_polygons.parquet"),
                "--optimize", str(NODE_LIMIT), "--mbtiles", os.path.join(out, "tiles.mbtiles")]

    def op(self, spark, k) -> int:
        from jobs import split_job

        _quiet(split_job.main, self.argv(k))
        return self.meta["rows"]

    def check(self, spark, k) -> bool:
        digest, tiles, _ = manifest_digest(os.path.join(self.out(k), "manifests"))
        with sqlite3.connect(os.path.join(self.out(k), "tiles.mbtiles")) as con:
            mb_rows = con.execute("SELECT COUNT(*) FROM tiles").fetchone()[0]
        if self.reference is None:  # the warm-up pass is the reference run
            self.reference = digest
        return digest == self.reference and mb_rows == tiles and tiles > 0

    def traced_op(self, spark, tracer, k) -> int:
        from mapsplit_spark.operators.assign import assign_and_expand
        from mapsplit_spark.operators.clip import clip_assignments, clip_tiles, load_rings
        from mapsplit_spark.operators.optimize import merged_assignments
        from mapsplit_spark.operators.sessions import session_assignments
        from mapsplit_spark.sinks.manifests import tile_manifests
        from mapsplit_spark.sinks.mbtiles import export_mbtiles

        out = self.out(k)
        src = spark.read.parquet(self.path("images.parquet"))
        with tracer.span("operators.assign") as sp:
            pairs = _force(assign_and_expand(src.select("image_id", "lon", "lat"),
                                             "image_id", "lon", "lat", ZOOM, BORDER), sp)
        n_in = sp["rows_out"]
        with tracer.span("operators.sessions") as sp:
            pairs = _force(session_assignments(
                pairs, spark.read.parquet(self.path("sessions.parquet")), complete=True), sp)
            sp["rows_out_per_in"] = sp["rows_out"] / max(n_in, 1)
        with tracer.span("operators.clip") as sp:
            outers, inners = load_rings(spark.read.parquet(self.path("clip_polygons.parquet")))
            tested = Observation()
            tiles = pairs.select("tile_x", "tile_y").distinct() \
                .observe(tested, F.count(F.lit(1)).alias("n"))
            kept = _force(clip_tiles(tiles, outers, inners, ZOOM), sp, "kept")
            sp["kept_ratio"] = sp["kept"] / max(tested.get["n"], 1)
            pairs = _force(clip_assignments(pairs, kept), sp)
        with tracer.span("operators.optimize") as sp:
            tiled = _force(merged_assignments(pairs, ZOOM, NODE_LIMIT), sp)
        with tracer.span("sinks.manifests") as sp:
            manifests = tile_manifests(tiled, ZOOM, assume_distinct=True)
            written = Observation()
            manifests.observe(written, F.count(F.lit(1)).alias("n")) \
                .write.mode("overwrite").parquet(os.path.join(out, "manifests"))
            sp["rows_out"] = written.get["n"]
        latest_ms = src.agg(F.max("ts_ms")).collect()[0][0] or 0
        with tracer.span("sinks.mbtiles") as sp:
            path = os.path.join(out, "tiles.mbtiles")
            export_mbtiles(spark, manifests, path, ZOOM, latest_date_ms=latest_ms)
            with sqlite3.connect(path) as con:
                sp["rows_out"] = con.execute("SELECT COUNT(*) FROM tiles").fetchone()[0]
        return self.meta["rows"]


class StreamDedup(Workload):
    """Sequential ``availableNow`` drains of ``stream_job --mode dedup``
    (RocksDB state, no state TTL): each drain lands one new file, so
    state grows drain over drain."""

    name = "stream_dedup"
    session_args = {"app": "stream-job"}
    sizes = {"bench": {"files": 8, "groups": 250, "history": 2},
             "tiny": {"files": 12, "groups": 20, "history": 2}}

    def build(self, out_dir):
        return gen.make_stream_files(out_dir, self.seed, self.params["files"],
                                     self.params["groups"])

    def prepare(self) -> dict:
        meta = super().prepare()
        self.landed = 0  # files landed into the live stream
        return meta

    @property
    def live(self) -> tuple[str, str, str]:
        """(landing, checkpoint, pairs) directories of the stream."""
        return tuple(os.path.join(self.run_dir, d) for d in ("landing", "checkpoint", "pairs"))

    def _land(self, landing: str, k: int) -> int:
        f = self.meta["files"][k]
        os.makedirs(landing, exist_ok=True)
        shutil.copy(os.path.join(self.input_dir, "pending", f["name"]),
                    os.path.join(landing, f["name"]))
        return f["rows"]

    def _drain(self, dirs) -> None:
        from jobs import stream_job

        landing, ckpt, out = dirs
        _quiet(stream_job.main, ["--mode", "dedup", "--once", "--input", landing,
                                 "--checkpoint", ckpt, "--output", out,
                                 "--radius", str(RADIUS), "--bands", str(STREAM_BANDS)])

    def warmup(self, spark) -> None:
        """Start the stream by draining the history files; the measured
        drains extend it."""
        for k in range(self.params["history"]):
            self._land(self.live[0], k)
        self._drain(self.live)
        self.landed = self.params["history"]

    def warmup_check(self, spark) -> bool:
        return self.check(spark, None)

    def has_input(self) -> bool:
        return self.landed < self.params["files"]

    def stage(self, k) -> None:
        self._land(self.live[0], self.landed)
        self.landed += 1

    def op(self, spark, k) -> int:
        self._drain(self.live)
        return self.meta["files"][self.landed - 1]["rows"]

    def check(self, spark, k) -> bool:
        return pair_digest(self.live[2]) == self.meta["pairs_upto"][self.landed - 1]

    def out_bytes(self, k) -> int:
        _, ckpt, out = self.live
        return dir_bytes(ckpt) + dir_bytes(out)

    def discard(self, k) -> None:
        pass  # the stream's output accumulates by design

    def finish(self, spark, tracer=None) -> bool:
        """The union of drained pairs equals batch ``hamming_near_dups``
        over every landed row (the exact-recall guarantee), and their
        ``connected_components`` are the planted groups."""
        from mapsplit_spark.operators.components import connected_components
        from mapsplit_spark.operators.dedup import hamming_near_dups

        def span(name):
            return tracer.span(name) if tracer else nullcontext({})

        landing, _, out = self.live
        batch = os.path.join(self.run_dir, "batch_pairs")
        with span("operators.dedup") as sp:
            written = Observation()
            hamming_near_dups(spark.read.parquet(landing), "image_id", "phash", radius=RADIUS,
                              n_bands=STREAM_BANDS) \
                .observe(written, F.count(F.lit(1)).alias("n")) \
                .write.mode("overwrite").parquet(batch)
            sp["rows_out"] = written.get["n"]
        with span("operators.components") as sp:
            comp = _force(connected_components(spark.read.parquet(out)), sp).toPandas()
        want = self.meta["components_upto"][self.landed - 1]
        return (pair_digest(batch) == pair_digest(out)
                and gen.digest_rows(comp["v"], comp["component"]) == want)

    def traced_op(self, spark, tracer, k) -> int:
        from mapsplit_spark.streaming.dedup_stream import (
            rocksdb_state_conf,
            streaming_hamming_dedup,
        )

        from .tracing import stream_progress

        landing, ckpt, out = self.live
        with tracer.span("streaming.dedup_stream") as sp:
            for key, v in rocksdb_state_conf().items():
                spark.conf.set(key, v)
            stream = spark.readStream.schema(spark.read.parquet(landing).schema).parquet(landing)
            pairs = streaming_hamming_dedup(stream, "image_id", "phash", radius=RADIUS,
                                            n_bands=STREAM_BANDS)

            emitted = []

            def sink(df, batch_id):  # stream_job's sink, counting what it writes
                obs = Observation()
                df.dropDuplicates(["id_a", "id_b"]) \
                    .observe(obs, F.count(F.lit(1)).alias("n")) \
                    .write.mode("append").parquet(out)
                emitted.append(obs.get["n"])

            q = (pairs.writeStream.foreachBatch(sink).outputMode("update")
                 .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
            q.awaitTermination()
            sp.update(stream_progress(q.recentProgress))
            sp["rows_out"] = sum(emitted)
        return self.meta["files"][self.landed - 1]["rows"]


WORKLOADS = {w.name: w for w in (SplitFull, StreamDedup)}
