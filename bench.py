"""Benchmark harness (driver contract + scaling protocol).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

``value`` is the flagship tile-split pipeline wall time; the JSON also
carries ``throughput_rows_per_sec`` (the BASELINE.json headline metric)
and input row counts.  ``--scaling`` additionally runs the flagship at
N and 4N cores on the same input and reports scaling efficiency
T_4N / (4 · T_N) — the sandbox substitute for the two-cluster-size
criterion (see BASELINE.md).

``bench_out.json`` holds the same record plus ``query_counters``: per
query the jobs, tasks, task/GC seconds, shuffle, spill and Arrow bytes
of its two timed runs, read after the session stops from Spark's event
log, which stays in ``bench_eventlog/`` until the next run.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
EVENT_LOG_DIR = os.path.join(REPO, "bench_eventlog")


def _force(df) -> None:
    """Fully materialize EVERY output column via the noop v2 sink.
    count() alone is not a benchmark force: Catalyst prunes projections
    a count doesn't need, so expression-heavy queries time as free (the
    doc_winnow blind spot — "0.19 s" by count vs 560 s real pre-fix,
    3.9 s real post-fix)."""
    df.write.format("noop").mode("overwrite").save()


BENCH_SET = [
    "tile_manifest",        # flagship: assign → expand → salted manifests
    "tile_assign",          # r4: previously un-benched gates below
    "latest_ts",
    "bounds_union",
    "lang_profile",
    "doc_exact_dup",
    "doc_lang_id",
    "doc_dedup_keep",
    # emb_near_dup and doc_jaccard_pairs are deliberately NOT
    # benched: both are the labeled n² brute-force GATE variants
    # (12 s and tens of minutes respectively at sf0.1 — the Jaccard
    # one intersects ~150-token shingle arrays for 12.5 M pairs on
    # the single-partition BNLJ output); the production near-dup
    # paths (lsh/phash/ann) are in the suite
    "modified_tiles_sessions",  # r4: watermark + transitive closure
    "tile_pyramid",         # r4: multi-level rollup, two shuffles at any depth
    "tile_assign_border",
    "tile_counts",
    "session_tiles",
    "node_backfill",
    "modified_tiles",
    "knn",
    "knn_tiled",            # tile-ring scale path + coverage-proof escalation
    "clip_convex",
    "clip_ring",            # concave even-odd corner clip (numpy kernel)
    "tile_bounds",
    "tile_merge",           # distributed superblock merge walk
    "relation_tiles",       # J3/J4 fixed point, 3-level nesting
    "complete_rel",         # J5/J6 down-propagation
    "complete_rel_mp",      # P6 multipolygon-only restriction (r3)
    "session_holefill",     # compressed-grid flood fill (+ ring fixture)
    "mbtiles_rows",         # TMS flip + blob construction
    "lsh_near_dup",         # MinHash-LSH scale path e2e
    "phash_near_dup",       # pHash pigeonhole band join (r3)
    "dup_components",       # pointer-jumping connected components (r3)
    "emb_ann_topk",         # IVF cells + probe + re-rank (full probe)
    "emb_ann_pruned",       # IVF with GENUINE pruning, clustered vecs (r3)
    "doc_winnow",           # rolling-window winnowing fingerprints
    "tile_cellid",          # Morton/quadkey cell encodings
    "doc_token_stats",
    "doc_quality",
    "doc_fingerprint",
    "emb_cosine_topk",
    "events_asof",          # r5: union+window as-of join (no join node)
    "event_sessions",       # r5: gap sessionization, one shuffle
    "event_window_join",    # r5: binned-interval equi-join rewrite
    "doc_simhash",          # r5: portable md5-nibble SimHash gate
    "clip_strtree",         # r5: STR-tree indexed PIP over 48 rings
    "user_distinct_hll",    # r5: portable HyperLogLog sketch fold
    "doc_weighted_sample",  # r5: A-ES weighted top-n per stratum
    "event_quantiles",      # r5: exact type-7 percentiles per group
    "event_geohash",        # r5: base-32 geohash cell ids (JVM kernel)
    "doc_tfidf",            # r5: top-k TF-IDF terms per document
    "tile_focal",           # r5: raster focal-sum (scatter kernel)
    "lang_top_terms",       # r5: exact heavy hitters per group
    "tile_clusters",        # r5: grid-density DBSCAN + components
    "term_cms",             # r5: Count-Min sketch point queries
    "way_geometry",         # r5: polyline length/bbox/centroid
    "doc_contamination",    # r5: winnow-fp train/test leakage join
    "ring_zonal",           # r5: per-ring zonal stats (pair descent)
    "event_hexcell",        # r5: hex lattice cell ids (cube round)
    "knn_hex",              # r5: hex k-disk kNN + coverage ladder
    "points_dwithin",       # r5: within-distance self-join (grid method)
    "user_trajectory",      # r5: per-user trace stats, one shuffle
    "point_snap",           # r5: snap-to-segment map matching
    "ring_raster",          # r5: vector→raster tile coverage
    "way_rings",            # r5: closed-ring area/winding/perimeter
    "tile_idw",             # r5: IDW surface via inverted kernel
    "zone_transitions",     # r5: geofence enter/exit (PIP + lag)
    "user_heading",         # r5: circular mean bearing (exact-int trig sums)
    "tile_flows",           # r5: OD-matrix flow aggregation
    "geo_image_dups",       # r5: hash-banded + geo-refined near-dup
    "gps_spikes",           # r5: implausible-speed trace cleaning
]


def run_queries(spark, sf_dir: str, tracer,
                names: list[str] = BENCH_SET) -> tuple[dict, dict]:
    """Best-of-2 noop-sink seconds and result rows per query.  Each
    query's two timed runs (not its row count) run inside one
    ``tracer`` span named after the query."""
    import __spark_entry__ as entry

    qs = entry.queries()
    # one warm pass primes JIT/codegen + parquet footer caches so the
    # timings measure the engine, not first-query JVM warm-up
    qs["tile_manifest"](spark, sf_dir).limit(1).count()
    times, rows = {}, {}
    for name in names:
        if name not in qs:
            continue
        best = float("inf")
        with tracer.span(name):
            for _ in range(2):  # best of 2 — this VM has ±2× noise windows
                t0 = time.perf_counter()
                _force(qs[name](spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
        times[name] = round(best, 3)
        rows[name] = qs[name](spark, sf_dir).count()
    return times, rows


def traced_session(cpus: int, log_dir: str = EVENT_LOG_DIR):
    """The bench session with Spark's event log on (the UI stays off),
    and a ``Tracer`` bound to it.  ``log_dir`` is emptied first.  The
    event-log conf goes in as JVM system properties, which the next
    ``SparkConf`` reads, so ``get_spark`` keeps its signature; the first
    session only starts the JVM with ``get_spark``'s driver settings."""
    from pyspark import SparkContext

    from mapsplit_spark.session import get_spark
    from perfbench.tracing import Tracer, event_log_conf

    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    get_spark("bench", cores=cpus, shuffle_partitions=2 * cpus).stop()
    system = SparkContext._jvm.java.lang.System
    conf = event_log_conf(log_dir)
    for k, v in conf.items():
        system.setProperty(k, v)
    try:
        spark = get_spark("bench", cores=cpus, shuffle_partitions=2 * cpus)
    finally:
        for k in conf:
            system.clearProperty(k)
    return spark, Tracer(spark.sparkContext)


def query_counters(tracer, log_dir: str = EVENT_LOG_DIR) -> dict:
    """query → jobs, tasks, task/GC seconds, shuffle, spill and Arrow
    bytes of its span, summed over both timed runs.  Read from the event
    log, so only after the traced session has stopped."""
    from perfbench.tracing import attribute, read_event_log

    by_span = attribute(tracer.spans, read_event_log(log_dir))
    return {sp["name"]: {k: round(v, 3) for k, v in by_span[sp["id"]].items()}
            for sp in tracer.spans}


def _scaling_pipeline(spark, n_rows: int):
    """Deterministic large input for the scaling protocol: spark.range →
    derived geo (same sqlgen exprs as the gate queries) → full flagship
    pipeline (assign + border expand + salted manifests).  Input is
    identical at every parallelism level; sized so compute, not fixed
    JVM/task overhead, dominates wall time."""
    from pyspark.sql import functions as F
    from mapsplit_spark import sqlgen
    from mapsplit_spark.operators.assign import assign_and_expand
    from mapsplit_spark.sinks.manifests import tile_manifests

    pts = spark.range(n_rows).select(
        F.col("id").alias("event_id"),
        F.expr(sqlgen.derived_lon_sql("id")).alias("lon"),
        F.expr(sqlgen.derived_lat_sql("id")).alias("lat"),
    )
    pairs = assign_and_expand(pts, "event_id", "lon", "lat", 13, 0.1)
    return tile_manifests(pairs, 13, assume_distinct=True)


def cluster_flagship_time(n_execs: int, cores_per: int, rows: int,
                          runs: int = 1, full_warm: bool = False) -> float:
    """Flagship wall time on a local-cluster master — SEPARATE executor
    JVMs, the honest sandbox analog of 'N executors' (single-JVM
    local[N] thread scaling is capped by this VM — see BASELINE.md
    'Why local-cluster').  Fixed per-executor resources; only the
    executor count changes between the two levels.  One warm pass, then
    ``runs`` timed passes (default ONE — the r4 protocol takes its
    statistics ACROSS fresh processes, not within one).

    ``full_warm`` warms with the FULL row count instead of rows//20:
    the small warm pass exercises JIT/codegen but populates only ~5% of
    the memory footprint, so the first full pass additionally pays
    first-touch page faults on executor heap/shuffle pages — the
    mechanism BASELINE.md r5 measures at 75-450x on raw allocations in
    bad windows.  full_warm separates the two regimes: cold-start E
    (default; includes page population, what a fresh autoscaled
    executor set would see) vs steady-state E (hot pages, what a
    long-running cluster sees)."""
    from pyspark.sql import SparkSession

    total = n_execs * cores_per
    spark = (
        SparkSession.builder.master(f"local-cluster[{n_execs},{cores_per},4096]")
        .appName(f"bench-scaling-{n_execs}x{cores_per}")
        .config("spark.sql.shuffle.partitions", str(2 * total))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.executor.memory", "3g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        _force(_scaling_pipeline(spark, rows if full_warm else rows // 20))
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            _force(_scaling_pipeline(spark, rows))
            best = min(best, time.perf_counter() - t0)
        return best
    finally:
        spark.stop()


def capacity_probe_time(cores: int, rows: int) -> float:
    """Aggregate-throughput capacity probe (VERDICT r4 #6): the same
    flagship pipeline on plain local[cores] threads — measures what
    this MACHINE can materialize at a given busy-core count, so a
    failing scaling ladder self-diagnoses as capacity-censored instead
    of failing opaquely.  (r4 found the VM saturates ~0.7 M rows/s at
    ≥8 busy cores in slow windows: 16 cores buy ≤10% over 8.)"""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"bench-capacity-{cores}")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
    try:
        _force(_scaling_pipeline(spark, rows // 20))  # warm JIT/codegen
        t0 = time.perf_counter()
        _force(_scaling_pipeline(spark, rows))
        return time.perf_counter() - t0
    finally:
        spark.stop()


def _load_prev_round_queries(repo: str) -> tuple[str | None, dict]:
    """Newest BENCH_r*.json → its per-query seconds, whether the driver
    managed to parse the JSON line or only captured it inside ``tail``
    (the r4 truncation this round's own-file emission fixes)."""
    import glob
    import re

    paths = sorted(glob.glob(os.path.join(repo, "BENCH_r*.json")))
    if not paths:
        return None, {}
    path = paths[-1]
    try:
        rec = json.load(open(path))
    except (OSError, json.JSONDecodeError):
        return path, {}
    if isinstance(rec, dict):
        parsed = rec.get("parsed")
        if isinstance(parsed, dict) and "queries" in parsed:
            return path, parsed["queries"]
        if "queries" in rec:
            return path, rec["queries"]
        tail = rec.get("tail", "")
        m = re.search(r'"queries":\s*(\{[^}]*\})', tail)
        if m:
            try:
                return path, json.loads(m.group(1))
            except json.JSONDecodeError:
                pass
    return path, {}


def _emit(record: dict, **file_only) -> None:
    """One JSON line on stdout (driver contract) AND the same record in
    its own file — r4's driver tail-capture truncated the line
    mid-string, leaving BENCH_r04.json unparseable (VERDICT r4 #7);
    the file survives any stdout mangling.  ``file_only`` keys go to
    the file alone, so the stdout line keeps its key set."""
    with open(os.path.join(REPO, "bench_out.json"), "w") as fh:
        json.dump({**record, **file_only}, fh)
        fh.write("\n")
    print(json.dumps(record))


def main() -> None:
    sys.path.insert(0, REPO)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    if "--scaling" in sys.argv:
        # N vs 4N EXECUTORS (separate JVMs via local-cluster), same job,
        # same deterministic input, fixed per-executor resources — the
        # sandbox analog of the north rule's two cluster sizes.  Input
        # sized so compute dominates fixed overhead (BASELINE.md).
        # defaults: 1×2 → 4×2 executors — the 4N level stays within this
        # VM's reliable JVM-thread budget (see BASELINE.md probes); scale
        # up via env on real hardware.
        # Each level runs in a FRESH subprocess (round-2 fix): measuring
        # both clusters inside one driver process left the second level
        # 1.5-2.5× slower on this VM (lingering JVM/OS state) — the
        # interleaved best-of-2 subprocess protocol reproduces within
        # ~10% where the in-process ladder swung E between 0.50 and 1.2.
        # r4 protocol (VERDICT r3 #3): MEDIAN of ≥3 interleaved
        # fresh-process samples per level — not best-of-2 with post-hoc
        # outlier adjudication.  The median is robust to this VM's ±27%
        # same-code noise band without anyone deciding which sample was
        # "the bad one"; per-sample lists are reported so the spread is
        # visible in BENCH/BASELINE.md.
        import statistics
        import subprocess

        n = int(os.environ.get("SPARK_GRAFT_SCALE_ROWS", "40000000"))
        n_exec = int(os.environ.get("SPARK_GRAFT_EXECS", "1"))
        cores_per = int(os.environ.get("SPARK_GRAFT_EXEC_CORES", "2"))
        n_samples = max(3, int(os.environ.get("SPARK_GRAFT_SCALE_SAMPLES", "3")))
        # steady-state mode: full-size warm pass in every subprocess, so
        # the timed pass sees hot pages (long-running-cluster regime)
        # instead of paying first-touch page population (fresh-executor
        # regime) — see cluster_flagship_time.full_warm
        steady = os.environ.get("SPARK_GRAFT_SCALE_STEADY", "") == "1"

        def level_time(execs: int) -> float:
            code = (
                "import bench, sys; "
                f"sys.stdout.write(str(bench.cluster_flagship_time("
                f"{execs}, {cores_per}, {n}, full_warm={steady})))"
            )
            out = subprocess.run(
                [sys.executable, "-c", code],
                capture_output=True, text=True, check=True,
                cwd=REPO,
            ).stdout.strip().splitlines()[-1]
            return float(out)

        # capacity probe FIRST (VERDICT r4 #6): what can this machine
        # materialize at the high level's core count, and does doubling
        # cores past it buy anything?  Fresh subprocesses, same flagship.
        high_cores = 4 * n_exec * cores_per
        probe_rows = max(n // 5, 1_000_000)
        probe_cores2 = min(2 * high_cores, os.cpu_count() or high_cores)

        def probe_time(cores: int) -> float:
            code = (
                "import bench, sys; "
                f"sys.stdout.write(str(bench.capacity_probe_time({cores}, {probe_rows})))"
            )
            out = subprocess.run(
                [sys.executable, "-c", code],
                capture_output=True, text=True, check=True,
                cwd=REPO,
            ).stdout.strip().splitlines()[-1]
            return float(out)

        try:
            t_pc1, t_pc2 = probe_time(high_cores), probe_time(probe_cores2)
            ceiling_rps = round(max(probe_rows / t_pc1, probe_rows / t_pc2), 1)
            probe = {
                "probe_rows": probe_rows,
                "cores_a": high_cores, "sec_a": round(t_pc1, 2),
                "rows_per_sec_a": round(probe_rows / t_pc1, 1),
                "cores_b": probe_cores2, "sec_b": round(t_pc2, 2),
                "rows_per_sec_b": round(probe_rows / t_pc2, 1),
                "ceiling_rows_per_sec": ceiling_rps,
                # doubling cores past the high level buying <15% means
                # the machine, not the plan, caps the ladder's high level
                "saturated": (probe_rows / t_pc2) < 1.15 * (probe_rows / t_pc1),
            }
        except subprocess.CalledProcessError as e:
            # the probe is diagnostics — never let it kill the ladder
            ceiling_rps = None
            probe = {"error": (e.stderr or str(e))[-400:]}

        lows, highs = [], []
        for _ in range(n_samples):  # strict interleave: low, high, low, ...
            lows.append(level_time(n_exec))
            highs.append(level_time(4 * n_exec))
        t_low, t_high = statistics.median(lows), statistics.median(highs)
        # headline statistic: median of PER-ROUND paired ratios — each
        # round's (low, high) ran back-to-back, so slow-drifting VM
        # capacity cancels inside the ratio (the reason the samples are
        # interleaved at all); the separate-medians ratio is reported
        # alongside, it re-admits cross-round drift
        round_effs = [tl / (4 * th) for tl, th in zip(lows, highs)]
        eff = statistics.median(round_effs)
        # ceiling-aware attainability: if 4× the low level's throughput
        # exceeds what the capacity probe says this machine sustains,
        # the shortfall to E=1 is (at least partly) the VM's
        attainable = (min(1.0, ceiling_rps / (4 * (n / t_low)))
                      if ceiling_rps else None)
        _emit({
            "metric": "scaling efficiency (N→4N executors, flagship tile-split)",
            "value": round(eff, 3), "unit": "ratio",
            "protocol": (f"median of {n_samples} per-round-paired ratios, "
                         f"interleaved fresh processes"),
            "round_effs": [round(e, 3) for e in round_effs],
            "eff_separate_medians": round((n / t_high) / (4 * (n / t_low)), 3),
            "executors_low": f"{n_exec}x{cores_per}",
            "executors_high": f"{4 * n_exec}x{cores_per}",
            "throughput_low_rows_per_sec": round(n / t_low, 1),
            "throughput_high_rows_per_sec": round(n / t_high, 1),
            "t_low_sec": round(t_low, 3), "t_high_sec": round(t_high, 3),
            "t_low_samples": [round(t, 2) for t in lows],
            "t_high_samples": [round(t, 2) for t in highs],
            "capacity_probe": probe,
            "attainable_eff_at_ceiling": (round(attainable, 3)
                                          if attainable is not None else None),
            "capacity_censored": (attainable < 0.8
                                  if attainable is not None else None),
            "steady_state": steady,
            "rows": n, "sf": sf,
        })
        return

    spark, tracer = traced_session(cpus)
    try:
        n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        times, rows = run_queries(spark, sf_dir, tracer)
        # at-scale datapoint: the toy sf input is overhead-dominated, so
        # also time the identical flagship plan over a 20M-row
        # deterministic input (same pipeline the scaling protocol uses)
        scale_n = int(os.environ.get("SPARK_GRAFT_BENCH_SCALE_ROWS", "20000000"))
        t_scale = float("inf")
        # best of 3: fresh-process forensics (BASELINE.md round 3) put
        # this VM's same-code spread at ±27% — two samples let one slow
        # window set the recorded number (the r2 "-11% drift")
        for _ in range(3):
            t0 = time.perf_counter()
            _force(_scaling_pipeline(spark, scale_n))
            t_scale = min(t_scale, time.perf_counter() - t0)

        # BASELINE.json headline vocabulary — tile-split throughput in
        # IMAGES/sec over the images-table shape (input_hint schema,
        # deterministic synthetic fixture, payload bytes excluded from
        # the assignment path by design)
        img_dir = "/tmp/bench_images_sf100"
        if not os.path.exists(os.path.join(img_dir, "images.parquet")):
            from mapsplit_spark.datagen import write_fixture_dir

            write_fixture_dir(img_dir, sf=100.0, with_bytes=False)  # 1M images
        from mapsplit_spark.operators.assign import assign_and_expand
        from mapsplit_spark.sinks.manifests import tile_manifests as _tm

        imgs = spark.read.parquet(f"{img_dir}/images.parquet")
        n_images = imgs.count()
        t_img = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            _force(_tm(assign_and_expand(
                imgs.select("image_id", "lon", "lat"),
                "image_id", "lon", "lat", 13, 0.1,
            ), 13, assume_distinct=True))
            t_img = min(t_img, time.perf_counter() - t0)
    finally:
        spark.stop()
    counters = query_counters(tracer)
    total = round(sum(times.values()), 3)
    flagship = times.get("tile_manifest", total)
    # per-query diff vs the newest BENCH_r*.json (VERDICT r4 #7) — on
    # stderr-style preamble lines BEFORE the JSON so the driver's tail
    # capture still ends with the one-line record
    prev_path, prev_q = _load_prev_round_queries(REPO)
    if prev_q:
        print(f"[diff] vs {os.path.basename(prev_path)} "
              f"(> ±30% flagged; this VM's same-code noise is ±27%):")
        for name, t in times.items():
            p = prev_q.get(name)
            if p:
                delta = (t - p) / p * 100
                flag = "  <-- CHECK" if abs(delta) > 30 else ""
                print(f"[diff] {name:24s} {p:8.2f} -> {t:8.2f}  "
                      f"{delta:+6.1f}%{flag}")
    _emit({
        "metric": "tile-split pipeline wall time (flagship tile_manifest)",
        "value": flagship,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "rows_in": n_events,
        "throughput_rows_per_sec": round(n_events / flagship, 1) if flagship else None,
        "scale_rows": scale_n,
        "scale_sec": round(t_scale, 3),
        "scale_throughput_rows_per_sec": round(scale_n / t_scale, 1),
        "images_split": n_images,
        "tile_split_images_per_sec": round(n_images / t_img, 1),
        "total_sec": total,
        "result_rows": rows,
        "cores": cpus,
    }, query_counters={
        "covers": "both timed runs of each query (not its row count)",
        "event_log": os.path.relpath(EVENT_LOG_DIR, REPO),
        "queries": counters,
    })


if __name__ == "__main__":
    main()
