"""Coarse-bucket dedup stream state: the ``applyInPandasWithState``
function, driven without Spark, against a per-(band, bval) reference
built on ``_verify_arrivals``; and an old-layout checkpoint refused."""

from __future__ import annotations

from collections import defaultdict
from itertools import combinations

import numpy as np
import pandas as pd
import pytest

from mapsplit_spark.streaming.dedup_stream import _bucket_fn, _verify_arrivals

RADIUS, N_BANDS = 3, 4


class _State:
    """The part of ``GroupState`` the dedup function uses."""

    def __init__(self, value, now, timed_out):
        self.value, self.now, self.hasTimedOut = value, now, timed_out
        self.timeout_at = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value

    def remove(self):
        self.value = None

    def setTimeoutDuration(self, ms):
        assert ms > 0
        self.timeout_at = self.now + ms

    def getCurrentProcessingTimeMs(self):
        return self.now


def _band_values(h: int, bits: int) -> list[int]:
    """The m band values of hash ``h``: contiguous bit slices, the first
    ``bits % m`` bands one bit wider."""
    w, rem = divmod(bits, N_BANDS)
    out, off = [], 0
    for k in range(N_BANDS):
        width = w + (k < rem)
        out.append(((h & 0xFFFFFFFFFFFFFFFF) >> off) & ((1 << width) - 1))
        off += width
    return out


def _sub_keys(h: int, bits: int) -> list[tuple]:
    """(band, values of that combination's bands): one per combination."""
    vals = _band_values(h, bits)
    return [(band, tuple(vals[k] for k in combo))
            for band, combo in enumerate(combinations(range(N_BANDS),
                                                      N_BANDS - RADIUS))]


def _coarse(sub: tuple) -> tuple:
    """A coarse state key for a sub-bucket: any many-to-one map works;
    the stream uses pmod(bval, STATE_BUCKETS)."""
    return sub[0], sum(sub[1]) % 3


def _triples(frames) -> list:
    df = pd.concat(frames)
    return sorted(zip(df.id_a.tolist(), df.id_b.tolist(), df.hamming.tolist()))


def _run(batches, bits, max_bucket, ttl):
    """Drive the coarse-bucket function and the per-(band, bval)
    reference over ``batches`` of (now_ms, [(id, hash)]); assert equal
    pairs per batch and equal state after each.  → (pairs emitted,
    sub-buckets evicted from a coarse bucket that stays in state)."""
    mask = (1 << bits) - 1
    fn = _bucket_fn("image_id", "phash", RADIUS, N_BANDS, bits, max_bucket, ttl)
    store = {}   # coarse key → (state value, timeout_at)
    ref = {}     # sub key → [ids, hashes, last touch]
    n_pairs = evicted_beside_live = 0
    for now, rows in batches:
        by_coarse, by_sub = defaultdict(list), defaultdict(list)
        for i, h in rows:
            for sub in _sub_keys(h, bits):
                by_coarse[_coarse(sub)].append((i, h))
                by_sub[sub].append((i, h))

        timed_out = {k for k, (_, at) in store.items()
                     if at is not None and at < now and k not in by_coarse}
        got = []
        for key in sorted(set(by_coarse) | timed_out):
            st = _State(store.get(key, (None, None))[0], now, key in timed_out)
            pdfs = ([pd.DataFrame(by_coarse[key], columns=["image_id", "phash"])]
                    if key in by_coarse else [])
            got.extend(fn(key, iter(pdfs), st))
            if st.exists:
                assert len(st.value[0]) > 0
                store[key] = (st.value, st.timeout_at)
            else:
                store.pop(key, None)

        outs = []
        for sub, arr in by_sub.items():
            s_ids, s_hashes, _ = ref.get(sub, (np.empty(0, np.int64),
                                               np.empty(0, np.uint64), 0))
            a = np.array(arr, dtype=object)
            ids, hashes = _verify_arrivals(
                s_ids, s_hashes, a[:, 0].astype(np.int64),
                np.array([h & 0xFFFFFFFFFFFFFFFF for h in a[:, 1]], np.uint64),
                RADIUS, np.uint64(mask), max_bucket, outs)
            ref[sub] = (ids, hashes, now)
        if ttl is not None:
            for sub in [s for s, v in ref.items()
                        if s not in by_sub and v[2] + ttl < now]:
                del ref[sub]
                evicted_beside_live += _coarse(sub) in store
        want = sorted((min(a, b), max(a, b), int(d))
                      for o in outs for a, b, d in zip(*o))
        assert _triples(got) == want
        n_pairs += len(want)

        # state: every sub-bucket's ids in reference order, touch times
        # under a TTL, entries sorted by sub-bucket
        state = {}
        for key, (value, _) in store.items():
            ids, hashes, touched = value
            subs = [_sub_keys(h, bits)[key[0]] for h in hashes]
            packed = [_pack(s[1], key[0], bits) for s in subs]
            assert packed == sorted(packed)
            for s, i in zip(subs, ids):
                state.setdefault(s, []).append(i)
            firsts = list(dict.fromkeys(subs))
            assert len(touched) == (len(firsts) if ttl is not None else 0)
            for s, t in zip(firsts, touched):
                assert t == ref[s][2]
        assert state == {s: v[0].tolist() for s, v in ref.items()}
    return n_pairs, evicted_beside_live


def _pack(vals, band, bits):
    """A combination's band values as the masked hash they came from (the
    stream's sub-bucket order)."""
    w, rem = divmod(bits, N_BANDS)
    offs = np.cumsum([0] + [w + (k < rem) for k in range(N_BANDS)])
    combo = list(combinations(range(N_BANDS), N_BANDS - RADIUS))[band]
    return sum(v << int(offs[k]) for v, k in zip(vals, combo))


def _arrivals(rng, bits, n_batches=4, per_batch=60):
    """Random hashes with planted near-dups (≤ RADIUS+1 flipped bits)
    and exact-duplicate floods, ids in random order across batches."""
    ids = rng.permutation(10_000)[:n_batches * per_batch].tolist()
    bases = [int(x) for x in rng.integers(0, 1 << 62, 8)]
    hashes = []
    for _ in range(n_batches * per_batch):
        r = rng.random()
        if r < 0.3:
            h = bases[rng.integers(len(bases))]              # flood
        elif r < 0.7:
            h = bases[rng.integers(len(bases))]
            for b in rng.choice(bits, rng.integers(1, RADIUS + 2), replace=False):
                h ^= 1 << int(b)                              # near-dup
        else:
            h = int(rng.integers(0, 1 << 62)) ^ (int(rng.integers(0, 4)) << 60)
        h &= (1 << bits) - 1
        hashes.append(h - (1 << 64) if h >= 1 << 63 else h)  # as int64
    rows = list(zip(ids, hashes))
    return [rows[k * per_batch:(k + 1) * per_batch] for k in range(n_batches)]


@pytest.mark.parametrize("bits", [60, 64])
@pytest.mark.parametrize("max_bucket", [3, 1024])
def test_coarse_buckets_match_per_band_value_reference(bits, max_bucket):
    rng = np.random.default_rng(bits * 7 + max_bucket)
    batches = _arrivals(rng, bits)
    # an arrival with an id below the hub of a bucket already in state
    hub_h = batches[0][0][1]
    batches[2].append((-5, hub_h ^ 1))
    n, _ = _run([(1000 * (k + 1), b) for k, b in enumerate(batches)],
                bits, max_bucket, ttl=None)
    assert n > 0


@pytest.mark.parametrize("bits", [60, 64])
def test_coarse_buckets_ttl_evicts_expired_sub_buckets(bits):
    rng = np.random.default_rng(bits)
    b = _arrivals(rng, bits, n_batches=5)
    # times: 1000 and 1080 go live; at 1150 one arrival leaves most
    # buckets to their timeouts, which evict the 1000 sub-buckets beside
    # the live 1080 ones; an empty batch at 1400 fires the rest; a
    # re-arrival at 1410 finds its partner evicted
    batches = [(1000, b[0]), (1080, b[1]), (1150, b[2][:1]), (1160, b[2][1:]),
               (1400, []), (1410, [(20_000, b[2][0][1])]), (1420, b[3]),
               (1700, b[4])]
    n, evicted_beside_live = _run(batches, bits, max_bucket=3, ttl=100)
    assert n > 0 and evicted_beside_live > 0


def test_old_layout_checkpoint_fails_at_start(spark, tmp_path):
    """A checkpoint written by the per-(band, bval) operator (key ``band
    int, bval long``, two-array state) must not be resumed by the
    coarse-bucket operator: the query fails at start instead of reading
    its state rows as buckets."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapsplit_spark.operators.dedup import hamming_banded
    from mapsplit_spark.streaming.dedup_stream import (
        OUT_SCHEMA,
        streaming_hamming_dedup,
    )
    from mapsplit_spark.streaming.drain import run_stream

    landing, ckpt = str(tmp_path / "landing"), str(tmp_path / "ck")
    (tmp_path / "landing").mkdir()

    def drop(k, rows):
        ids, hashes = zip(*rows)
        pq.write_table(pa.table({"image_id": pa.array(ids, type=pa.int64()),
                                 "phash": pa.array(hashes, type=pa.int64())}),
                       f"{landing}/b{k}.parquet")

    def old_fn(key, batches, state):
        ids = [int(i) for pdf in batches for i in pdf["image_id"]]
        state.update((ids, ids))
        yield pd.DataFrame({"id_a": np.empty(0, np.int64),
                            "id_b": np.empty(0, np.int64),
                            "hamming": np.empty(0, np.int32)})

    def stream():
        return spark.readStream.schema("image_id long, phash long").parquet(landing)

    old = hamming_banded(stream(), "image_id", "phash", N_BANDS, 64, RADIUS) \
        .groupBy("band", "bval").applyInPandasWithState(
            old_fn, OUT_SCHEMA, "ids array<long>, hashes array<long>",
            "update", GroupStateTimeout.NoTimeout)
    drop(0, [(1, 0x1234_5678_9ABC_DEF0), (2, 0x0F0F_0F0F_0F0F_0F0F)])
    run_stream(spark, old, lambda df, _: df.collect(), ckpt, timeout_sec=120)

    drop(1, [(3, 0x1234_5678_9ABC_DEF1)])
    rows = []
    with pytest.raises(StreamingQueryException,
                       match="STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"):
        run_stream(spark, streaming_hamming_dedup(stream(), radius=RADIUS,
                                                  n_bands=N_BANDS),
                   lambda df, _: rows.extend(df.collect()), ckpt,
                   timeout_sec=120)
    assert rows == []
