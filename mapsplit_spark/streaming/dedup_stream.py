"""Streaming near-duplicate detection — the pHash pigeonhole band join
as a STATEFUL STREAM (engine addition, r4).

Batch ``dedup.hamming_near_dups`` answers "which pairs in this corpus
are within Hamming radius r"; a training-data INGEST pipeline asks the
online form: "is this arriving image a near-dup of anything seen so
far?".  Same construction, streamed:

* the arriving (id, phash) stream is banded with the SAME generalized
  pigeonhole decomposition as the batch operator
  (``dedup.hamming_banded`` — pure column ops, streaming-safe), so the
  exact-recall guarantee carries over: a pair within radius r agrees on
  at least one (m−r)-band combination key;
* each (band, bval) bucket keeps its member list as state — the
  streaming analog of the banded relation — and verifies each arrival
  against its bucket members with one XOR/popcount, emitting (id_a,
  id_b, hamming) the moment the LATER member arrives (cross-batch:
  state persists across triggers);
* the hot-bucket cap mirrors the batch star-edge degradation: once a
  bucket holds ``max_bucket`` members (exactly that many — the r4
  append guard stored max_bucket+1; fixed in r5), later arrivals
  verify against the bucket HUB (min id) only and are NOT added —
  state stays bounded per key while a degenerate flood of
  near-identical images stays CONNECTED through the hub (same recall
  caveat as the batch cap).

A pair colliding in several band combinations is emitted once per
colliding bucket — deduplicate at the sink (``dropDuplicates`` in a
foreachBatch, or distinct at read time), exactly like the batch
operator's pre-distinct candidate stream.

State layout.  A (band, bval) bucket is a *sub-bucket* of a coarse
state bucket: ``applyInPandasWithState`` is keyed by (band, sb), sb =
pmod(bval, STATE_BUCKETS), so a micro-batch makes at most C(m, m−r) ×
STATE_BUCKETS Python calls however many (band, bval) values it touches
(one call per (band, bval) cost ~1.4 ms of fixed Python overhead, the
bulk of a drain).  A state row holds every entry of its coarse bucket
as parallel ``ids``/``hashes`` arrays sorted by sub-bucket, ``hash &
combo_mask`` (``dedup.band_combo_masks``: equal exactly when the band
values are, i.e. one sub-bucket per bval up to an xxhash64 collision),
plus ``touched``, each sub-bucket's last-touch time (empty without a
TTL).  The function runs ``_verify_arrivals`` on each sub-bucket that
got arrivals, so pairs, cap, hub and id-ordered arrivals are per (band,
bval) exactly as with one key per bucket.  Checkpoints written with the
earlier (band, bval) key fail at start with
STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE; restart them on a fresh
checkpoint (the batch operator recovers the pairs across the cut).

State size is the banded corpus (C(m, m−r) entries per image, 16 B
payload each) — the streaming twin of the batch shuffle; at 100 TB the
band count knob (``dedup.auto_bands``) and the cap bound it the same
way.  The cost of coarse keys: a touched coarse bucket is rewritten
whole, so the state a micro-batch writes is O(state), not
O(arrivals) — and with few coarse buckets every one is touched.  On
the ``stream_dedup`` benchmark (seed 1, 900-1,750-row drains, zstd
state files, one output file per drain) the per-drain checkpoint +
output bytes grow 88 → 289 KB over six drains, where the
one-key-per-bucket layout wrote 123 → 221 KB: the layouts cross at the
third drain, between 3,200 and 4,200 images of state (13-17 K
entries).  Past the crossover, bytes per drain track the state size,
so the bounds below (TTL, per-epoch checkpoints) are also what bound
the write volume.

State lifecycle at scale (r5): the state is the banded corpus and —
by design — grows with every distinct image ingested.  Its partition
count is fixed when the checkpoint is created: Spark records
``spark.sql.shuffle.partitions`` in the offset metadata of the first
batch and every restart reuses it.  ``stream_job`` (through
``streaming.drain.start_stream``) sizes a new stream to one task wave,
``defaultParallelism`` partitions — each state partition is a task
with a fixed per-batch cost, so the batch default of 32 made a small
drain run eight waves.  Checkpoints created earlier keep their count;
to re-size one, start a fresh checkpoint (see time-partitioning
below).  Three knobs bound the state for unbounded streams:

* **RocksDB state store** (``rocksdb_state_conf``): moves state off
  the executor heap onto local disk with incremental checkpointing —
  the standard Structured Streaming answer to state that outgrows
  memory.  Must be set BEFORE the stream starts.
* **per-bucket cap** (``max_bucket``): hard-bounds any single key's
  state regardless of corpus skew (hub-star degradation past the cap).
* **state TTL** (``state_ttl_ms``): a (band, bval) sub-bucket idle for
  the TTL is EVICTED whenever its coarse bucket runs — on arrivals, or
  on the processing-time timeout, which is set to the bucket's
  earliest expiry; an emptied bucket is removed — so total state
  tracks the ACTIVE working set instead of the full corpus.
  Semantics change honestly: a duplicate arriving after its partner's
  bucket expired is NOT paired online — that tail is exactly what the
  periodic batch reconciliation below recovers.  Dedup-recall window =
  TTL; state bound = arrival rate × TTL × C(m, m−r).
* **corpus time-partitioning** (operational): for ingest beyond one
  state store's capacity, key the checkpoint per epoch (day/week) and
  start a fresh query per epoch — arrivals then dedup against the
  current epoch online, and ``operators.dedup.hamming_near_dups``
  closes the cross-epoch pairs in a periodic batch reconciliation
  (same band construction ⇒ same recall guarantee).  This mirrors the
  reference's appointment-date incremental loop
  (MapSplit.java:1506-1531): cheap online delta, periodic full pass.

Per-arrival verification is numpy-vectorized (r5, VERDICT r4 #3): one
XOR matrix + SWAR popcount per micro-batch sub-bucket instead of a
Python loop over bucket members — the Python shell only manages state.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.dedup import band_combo_masks, hamming_banded

OUT_SCHEMA = "id_a long, id_b long, hamming int"
STATE_SCHEMA = "ids array<long>, hashes array<long>, touched array<long>"
# coarse state buckets per band combination: the stateful key is
# (band, pmod(bval, STATE_BUCKETS)), so a drain makes at most
# C(m, m−r) × STATE_BUCKETS Python calls
STATE_BUCKETS = 16

_M1 = np.uint64(0x5555555555555555)
_M2 = np.uint64(0x3333333333333333)
_M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
_H01 = np.uint64(0x0101010101010101)


def _popcount64(x: np.ndarray) -> np.ndarray:
    """SWAR popcount over a uint64 array (numpy 1.x has no
    ``bitwise_count``); the horizontal-sum multiply wraps, which numpy
    uint64 arrays do silently — exactly what SWAR wants."""
    x = x - ((x >> np.uint64(1)) & _M1)
    x = (x & _M2) + ((x >> np.uint64(2)) & _M2)
    x = (x + (x >> np.uint64(4))) & _M4
    return ((x * _H01) >> np.uint64(56)).astype(np.int64)


def _verify_arrivals(s_ids: np.ndarray, s_hashes: np.ndarray,
                     a_ids: np.ndarray, a_hashes: np.ndarray,
                     radius: int, mask: np.uint64, max_bucket: int,
                     outs: list) -> tuple[np.ndarray, np.ndarray]:
    """One bucket, one arrival batch: vectorized verify + state merge
    (VERDICT r4 #3 — replaces the per-member Python loop).  Appends
    (id_a, id_b, hamming) array triples to ``outs``; returns updated
    (ids, hashes) state arrays.  A pure numpy kernel, callable without
    a stream or a Spark session."""
    n = len(a_ids)
    if n > 1:
        # deterministic arrival order within a batch: by id — makes the
        # emitted pair set reproducible across partitionings
        order = np.argsort(a_ids, kind="stable")
        a_ids, a_hashes = a_ids[order], a_hashes[order]
    # the first k arrivals (id order) fill the bucket to the cap and
    # verify against EVERYTHING present at their arrival; the rest are
    # hub-only (verify vs min-id member, no append)
    k = min(n, max(0, max_bucket - len(s_ids)))

    if k and len(s_ids):
        # appended arrivals × pre-existing state: one XOR matrix
        d = _popcount64((a_hashes[:k, None] ^ s_hashes[None, :]) & mask)
        ai, si = np.nonzero((d <= radius)
                            & (a_ids[:k, None] != s_ids[None, :]))
        if len(ai):
            outs.append((a_ids[ai], s_ids[si], d[ai, si]))
    if k > 1:
        # appended arrivals among themselves: strict lower triangle
        # [i, j], j < i = (later arrival i, earlier arrival j)
        d = _popcount64((a_hashes[:k, None] ^ a_hashes[None, :k]) & mask)
        keep = (d <= radius) & (a_ids[:k, None] != a_ids[None, :k])
        keep &= np.tri(k, k, -1, dtype=bool)
        ai, aj = np.nonzero(keep)
        if len(ai):
            outs.append((a_ids[ai], a_ids[aj], d[ai, aj]))

    # merge the appended arrivals into state — arrivals are id-sorted,
    # so only a_ids[0] can displace the hub (index 0)
    if k:
        if len(s_ids) == 0 or a_ids[0] < s_ids[0]:
            s_ids = np.concatenate([a_ids[:1], s_ids, a_ids[1:k]])
            s_hashes = np.concatenate([a_hashes[:1], s_hashes, a_hashes[1:k]])
        else:
            s_ids = np.concatenate([s_ids, a_ids[:k]])
            s_hashes = np.concatenate([s_hashes, a_hashes[:k]])

    if k < n and len(s_ids):
        # over-cap arrivals: hub-star verification only
        rest_ids = a_ids[k:]
        d = _popcount64((a_hashes[k:] ^ s_hashes[0]) & mask)
        hit = np.nonzero((d <= radius) & (rest_ids != s_ids[0]))[0]
        if len(hit):
            outs.append((rest_ids[hit], np.full(len(hit), s_ids[0]), d[hit]))
    return s_ids, s_hashes


def _merge_bucket(s_ids: np.ndarray, s_hashes: np.ndarray,
                  s_touched: np.ndarray, a_ids: np.ndarray,
                  a_hashes: np.ndarray, combo_mask: np.uint64, radius: int,
                  mask: np.uint64, max_bucket: int, now: int,
                  ttl_ms: int | None, outs: list
                  ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One coarse state bucket, one arrival batch.  The bucket's entries
    are sorted by sub-bucket, ``hash & combo_mask`` (one sub-bucket per
    (band, bval)); ``s_touched`` holds each sub-bucket's last-touch time
    in that order (empty without a TTL).  Every sub-bucket with arrivals
    runs ``_verify_arrivals`` on its slice and is touched at ``now``;
    with a TTL, an untouched sub-bucket last touched more than
    ``ttl_ms`` before ``now`` is dropped.  Appends pair triples to
    ``outs``; returns the new (ids, hashes, touched)."""
    s_sub = s_hashes & combo_mask
    s_keys, s_first = np.unique(s_sub, return_index=True)
    s_end = np.append(s_first[1:], len(s_sub))
    order = np.lexsort((a_ids, a_hashes & combo_mask))
    a_ids, a_hashes = a_ids[order], a_hashes[order]
    a_keys, a_first = np.unique(a_hashes & combo_mask, return_index=True)
    a_end = np.append(a_first[1:], len(a_ids))

    pos = np.searchsorted(s_keys, a_keys)
    hit = pos < len(s_keys)
    hit[hit] = s_keys[pos[hit]] == a_keys[hit]
    keep = np.ones(len(s_keys), dtype=bool)
    keep[pos[hit]] = False
    if ttl_ms is not None:
        keep &= s_touched + ttl_ms >= now
    kept_rows = np.repeat(keep, s_end - s_first)
    ids, hashes, keys = [s_ids[kept_rows]], [s_hashes[kept_rows]], [s_keys[keep]]

    for i in range(len(a_keys)):
        ss = slice(s_first[pos[i]], s_end[pos[i]]) if hit[i] else slice(0, 0)
        n_ids, n_hashes = _verify_arrivals(
            s_ids[ss], s_hashes[ss],
            a_ids[a_first[i]:a_end[i]], a_hashes[a_first[i]:a_end[i]],
            radius, mask, max_bucket, outs)
        if len(n_ids):
            ids.append(n_ids)
            hashes.append(n_hashes)
            keys.append(a_keys[i:i + 1])
    ids, hashes = np.concatenate(ids), np.concatenate(hashes)
    # kept sub-buckets and touched ones are disjoint, each contiguous:
    # a stable sort by sub-bucket restores the layout
    order = np.argsort(hashes & combo_mask, kind="stable")
    touched = s_touched
    if ttl_ms is not None:
        keys = np.concatenate(keys)
        touched = np.concatenate([s_touched[keep], np.full(
            len(keys) - keep.sum(), now, np.int64)])[np.argsort(keys)]
    return ids[order], hashes[order], touched


def _bucket_fn(id_col: str, hash_col: str, radius: int, n_bands: int,
               bits: int, max_bucket: int, state_ttl_ms: int | None):
    """The ``applyInPandasWithState`` function over coarse state buckets
    keyed (band, sb): loads the bucket's state, runs ``_merge_bucket``
    on all its arrivals, and stores the result — removed when empty,
    with the timeout reset to the earliest remaining expiry under a
    TTL."""
    mask = np.uint64((1 << bits) - 1)
    combo_masks = [np.uint64(m) for m in band_combo_masks(n_bands, bits, radius)]
    empty_i = np.empty(0, dtype=np.int64)

    def fn(key: tuple, batches: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        # int64 ids, hashes viewed as uint64 bit patterns (two's
        # complement — XOR/popcount are representation-level, so the
        # view is exact)
        if state.exists:
            s_ids, s_hashes, s_touched = (np.asarray(a, dtype=np.int64)
                                          for a in state.get)
        else:
            s_ids = s_hashes = s_touched = empty_i
        pdfs = [pdf for pdf in batches if len(pdf)]
        if pdfs:
            a_ids = np.concatenate([p[id_col].to_numpy(dtype=np.int64) for p in pdfs])
            a_hashes = np.concatenate([p[hash_col].to_numpy(dtype=np.int64)
                                       for p in pdfs])
        else:
            a_ids = a_hashes = empty_i
        now = 0 if state_ttl_ms is None else state.getCurrentProcessingTimeMs()
        outs = []  # (id_a_arr, id_b_arr, d_arr) triples, combined once
        ids, hashes, touched = _merge_bucket(
            s_ids, s_hashes.view(np.uint64), s_touched, a_ids,
            a_hashes.view(np.uint64), combo_masks[key[0]], radius, mask,
            max_bucket, now, state_ttl_ms, outs)

        if len(ids) == 0:
            state.remove()
        else:
            state.update((ids.tolist(), hashes.view(np.int64).tolist(),
                          touched.tolist()))
            if state_ttl_ms is not None:
                state.setTimeoutDuration(
                    max(1, int(touched.min()) + state_ttl_ms - now))
        if outs:
            a = np.concatenate([o[0] for o in outs])
            b = np.concatenate([o[1] for o in outs])
            d = np.concatenate([o[2] for o in outs])
            yield pd.DataFrame({"id_a": np.minimum(a, b),
                                "id_b": np.maximum(a, b),
                                "hamming": d.astype(np.int32)})
        else:
            yield pd.DataFrame({"id_a": empty_i, "id_b": empty_i,
                                "hamming": np.empty(0, dtype=np.int32)})

    return fn


def rocksdb_state_conf() -> dict[str, str]:
    """Session conf for disk-backed streaming state (set before the
    query starts): RocksDB provider + changelog checkpointing, so the
    banded-corpus state scales with local SSD instead of executor heap,
    and zstd for the state files — a touched bucket is rewritten whole.
    Returned as a dict to pass as ``conf`` to ``drain.run_stream``,
    which sets it for the query's start only.  The codec is recorded in
    the checkpoint: a resumed stream keeps the one it was created with."""
    return {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
        ".enabled": "true",
        "spark.sql.streaming.stateStore.compression.codec": "zstd",
    }


def streaming_hamming_dedup(stream: DataFrame, id_col: str = "image_id",
                            hash_col: str = "phash", radius: int = 3, *,
                            n_bands: int, bits: int = 64,
                            max_bucket: int = 1024,
                            state_ttl_ms: int | None = None) -> DataFrame:
    """(id, phash) stream → (id_a, id_b, hamming ≤ radius) pair stream;
    radius ≤ n_bands − 1 required, as in batch (``hamming_banded``).

    ``state_ttl_ms`` bounds state for unbounded ingest: (band, bval)
    sub-buckets idle longer than the TTL are evicted, trading the online
    recall window for a working-set-sized state store — see the module
    docstring's lifecycle section.  Eviction runs when a state bucket
    runs: on arrivals, or on its processing-time timeout at a micro-
    batch boundary, so it needs a subsequent trigger; a sub-bucket
    receiving data in the expiring batch is refreshed, not evicted.  A
    drain started by ``streaming.drain`` runs no empty batches, so
    there eviction waits for the next drain that brings data."""
    banded = hamming_banded(
        stream.select(id_col, hash_col), id_col, hash_col, n_bands, bits, radius
    ).select(id_col, hash_col, "band",
             F.pmod("bval", F.lit(STATE_BUCKETS)).cast("int").alias("sb"))
    fn = _bucket_fn(id_col, hash_col, radius, n_bands, bits, max_bucket,
                    state_ttl_ms)
    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if state_ttl_ms is not None else GroupStateTimeout.NoTimeout)
    return banded.groupBy("band", "sb").applyInPandasWithState(
        fn, OUT_SCHEMA, STATE_SCHEMA, "update", timeout
    )
