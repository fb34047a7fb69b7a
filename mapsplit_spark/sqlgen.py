"""Single-source SQL formula generators for tile math.

The driver's correctness gate runs our Spark queries AND a DuckDB oracle
side-by-side; any float-formula drift between the two implementations
would show up as a value-hash mismatch.  We eliminate that class of bug
by construction: every tile-math formula is generated ONCE as portable
ANSI-SQL text (functions common to Spark SQL and DuckDB: FLOOR, LN, TAN,
COS, EXP, ATAN, RADIANS, DEGREES, PI, LEAST, GREATEST, CASE) and used
verbatim by both engines — Spark via ``F.expr(...)``, DuckDB via string
substitution into the oracle query.

Formulas re-derive the reference semantics:
* lon→tileX with clamping            MapSplit.java:194-204
* lat→tileY (Mercator) with clamping MapSplit.java:211-221
* tile→lon / tile→lat                MapSplit.java:173-186
* border deltas                      MapSplit.java:360-382
* neighbour bits / NW normalization  MapSplit.java:411-445
"""

from __future__ import annotations

import math


def lon2tx_sql(lon: str, zoom: int) -> str:
    n = 1 << zoom
    return (
        f"LEAST(GREATEST(CAST(FLOOR((({lon}) + 180.0) / 360.0 * {n}.0) AS BIGINT), 0), {n - 1})"
    )


def lat2ty_sql(lat: str, zoom: int) -> str:
    # argument clamped to ±89.9 — same domain guard as tilemath.lat2ty
    # (border probes can leave ±90°; clamping is flag-equivalent there)
    n = 1 << zoom
    c = f"LEAST(GREATEST({lat}, -89.9), 89.9)"
    return (
        "LEAST(GREATEST(CAST(FLOOR((1.0 - LN(TAN(RADIANS(" + c + ")) + 1.0 / COS(RADIANS("
        + c + f"))) / PI()) / 2.0 * {n}.0) AS BIGINT), 0), {n - 1})"
    )


def tile2lon_sql(x: str, zoom: int) -> str:
    # CAST to DOUBLE: Spark parses `8192.0` as DECIMAL and keeps
    # BIGINT/DECIMAL division decimal, while DuckDB computes in double —
    # forcing double on the operand removes the divergence class
    return f"((CAST({x} AS DOUBLE) / {float(2 ** zoom)!r}) * 360.0 - 180.0)"


def tile2lat_sql(y: str, zoom: int) -> str:
    inner = f"(PI() - 2.0 * PI() * CAST({y} AS DOUBLE) / {float(2 ** zoom)!r})"
    return f"DEGREES(ATAN(0.5 * (EXP({inner}) - EXP(-{inner}))))"


def delta_x_sql(zoom: int, border: float) -> str:
    # tile2lon is linear in x, so the per-tile width is the constant
    # 360/2^z and deltaX (MapSplit.java:360-370) reduces to a literal.
    return f"{border!r} * (360.0 / {float(2 ** zoom)!r})"


def delta_y_sql(ty: str, zoom: int, border: float) -> str:
    # deltaY (MapSplit.java:372-382): border * (tile2lat(ty+1) - tile2lat(ty)) <= 0
    return f"{border!r} * ({tile2lat_sql(f'({ty}) + 1', zoom)} - {tile2lat_sql(ty, zoom)})"


def tile_id_sql(zoom: int, x: str, y: str) -> str:
    """z<<32 | x<<16 | y — via arithmetic so it is dialect-portable."""
    return f"(CAST({zoom} AS BIGINT) * 4294967296 + ({x}) * 65536 + ({y}))"


def assign_cte_sql(src: str, id_col: str, lon: str, lat: str, zoom: int,
                   border: float) -> str:
    """Portable SQL producing (id, tile_x, tile_y, neighbour) — one row
    per element, base tile NW-normalized, neighbour bits per
    MapSplit.java:411-445.  ``src`` is a table name or subquery alias.
    """
    if border > 0:
        return f"""
SELECT element_id,
       tx0 - (CASE WHEN NOT e AND w THEN 1 ELSE 0 END) AS tile_x,
       ty0 - (CASE WHEN NOT s AND n THEN 1 ELSE 0 END) AS tile_y,
       (CASE WHEN e OR w THEN 1 ELSE 0 END) + (CASE WHEN s OR n THEN 2 ELSE 0 END) AS neighbour
FROM (
  SELECT element_id, tx0, ty0,
         {lon2tx_sql("lon0 + dx", zoom)} > tx0 AS e,
         {lon2tx_sql("lon0 - dx", zoom)} < tx0 AS w,
         {lat2ty_sql("lat0 + dy", zoom)} > ty0 AS s,
         {lat2ty_sql("lat0 - dy", zoom)} < ty0 AS n
  FROM (
    SELECT element_id, lon0, lat0, tx0, ty0,
           {delta_x_sql(zoom, border)} AS dx,
           {delta_y_sql('ty0', zoom, border)} AS dy
    FROM (
      SELECT {id_col} AS element_id, {lon} AS lon0, {lat} AS lat0,
             {lon2tx_sql(lon, zoom)} AS tx0, {lat2ty_sql(lat, zoom)} AS ty0
      FROM {src}
    ) base
  ) with_delta
) flags
"""
    return (
        f"SELECT {id_col} AS element_id, {lon2tx_sql(lon, zoom)} AS tile_x, "
        f"{lat2ty_sql(lat, zoom)} AS tile_y, 0 AS neighbour FROM {src}"
    )


def expand_select_sql(src: str) -> str:
    """The neighbour-expansion SELECT over an assignment relation named
    ``src`` — E, S, and SE-iff-both (AbstractOsmMap.java:106-114).
    Exposed separately so callers that must FLATTEN their CTE list
    (DuckDB's WITH RECURSIVE rejects a nested WITH inside a CTE body)
    can place the assignment as a sibling CTE."""
    return f"""
SELECT element_id, tile_x, tile_y FROM {src}
UNION ALL
SELECT element_id, tile_x + 1, tile_y FROM {src} WHERE neighbour % 2 = 1
UNION ALL
SELECT element_id, tile_x, tile_y + 1 FROM {src} WHERE neighbour >= 2
UNION ALL
SELECT element_id, tile_x + 1, tile_y + 1 FROM {src} WHERE neighbour = 3
"""


def expand_union_sql(assign_sql: str) -> str:
    """Expand (tile, neighbour) rows → distinct member tiles via UNION ALL
    (AbstractOsmMap.java:106-114: E, S, and SE-iff-both)."""
    return f"""
WITH a AS ({assign_sql})
{expand_select_sql("a")}
"""


# ------------------------------------------------------------------
# deterministic geo derivation for the driver's TPC-H-ish test tables
# (events/documents have no coordinates; derive them reproducibly from
# the integer key so Spark and DuckDB agree exactly — integer math only)
# ------------------------------------------------------------------

EARTH_R_KM = 6371.0088  # mean Earth radius (IUGG), the haversine's R
KM_PER_DEG = math.radians(1.0) * EARTH_R_KM  # great-circle km per degree


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Great-circle distance in km (mean Earth radius ``EARTH_R_KM``).
    Portable text — identical in Spark SQL and DuckDB, so both engines
    evaluate the same expression tree."""
    return (
        f"2.0 * {EARTH_R_KM!r} * ASIN(SQRT("
        f"POWER(SIN(RADIANS(({lat2}) - ({lat1})) / 2.0), 2) + "
        f"COS(RADIANS({lat1})) * COS(RADIANS({lat2})) * "
        f"POWER(SIN(RADIANS(({lon2}) - ({lon1})) / 2.0), 2)))"
    )


def udeg_sql(x: str) -> str:
    """Microdegrees as BIGINT — the exact integer quantization both
    engines agree on, making downstream SUM/AVG order-independent
    (float sums are not)."""
    return f"CAST(ROUND(({x}) * 1000000, 0) AS BIGINT)"


def mm_from_km_sql(km: str) -> str:
    """Kilometres → millimetres as BIGINT (exact-summable lengths)."""
    return f"CAST(ROUND(({km}) * 1000000, 0) AS BIGINT)"


def dot_sql(a: str, b: str, dim: int, one_based: bool) -> str:
    """Unrolled dot product of two fixed-dim float vectors with explicit
    left-to-right summation order and double casts — deterministic and
    identical across engines up to libm-free arithmetic.  ``one_based``
    selects the indexing convention (DuckDB lists are 1-based, Spark
    array subscripts 0-based)."""
    off = 1 if one_based else 0
    terms = [
        f"CAST({a}[{i + off}] AS DOUBLE) * CAST({b}[{i + off}] AS DOUBLE)"
        for i in range(dim)
    ]
    return "(" + " + ".join(terms) + ")"


def convex_pip_sql(lon: str, lat: str, vertices: list[tuple[float, float]]) -> str:
    """Point-in-convex-polygon as a pure-SQL conjunction of half-plane
    tests (vertices in CCW order).  Used for the oracle-checkable clip
    query; general even-odd ray casting for arbitrary rings lives in
    operators/clip.py (numpy kernel, pytest-verified)."""
    terms = []
    n = len(vertices)
    for i in range(n):
        x1, y1 = vertices[i]
        x2, y2 = vertices[(i + 1) % n]
        terms.append(
            f"(({x2!r} - {x1!r}) * (({lat}) - {y1!r}) - "
            f"({y2!r} - {y1!r}) * (({lon}) - {x1!r}) >= 0.0)"
        )
    return "(" + " AND ".join(terms) + ")"


def ring_pip_sql(lon: str, lat: str, ring: list[tuple[float, float]]) -> str:
    """General even-odd ray casting for one arbitrary (possibly concave)
    ring, unrolled per edge as portable SQL — the SQL twin of the numpy
    kernel in operators/clip.py (_pip) and of the reference's isInside
    (MapSplit.java:999-1010): count upward/downward edge crossings left
    of the point, odd ⇒ inside.  Term arithmetic mirrors the numpy
    expression shape exactly (((xj−xi)·(lat−yi))/(yj−yi)+xi) so both
    engines evaluate the identical float64 tree.  Rings must have no
    horizontal edges (yi == yj would divide by zero; the numpy kernel
    masks that case, SQL cannot short-circuit portably).
    """
    terms = []
    n = len(ring)
    for i in range(n):
        xi, yi = ring[i]
        xj, yj = ring[i - 1]  # previous vertex — numpy's roll(+1) convention
        if yi == yj:  # explicit raise: an assert is stripped under -O and
            # the generated SQL would divide by zero → silently wrong clips
            raise ValueError(
                f"ring_pip_sql requires no horizontal edges (vertices {i - 1},{i} "
                f"share latitude {yi!r})"
            )
        terms.append(
            f"(CASE WHEN (({yi!r} > ({lat})) <> ({yj!r} > ({lat}))) AND "
            f"(({lon}) < ({xj!r} - {xi!r}) * (({lat}) - {yi!r}) / ({yj!r} - {yi!r}) + {xi!r}) "
            f"THEN 1 ELSE 0 END)"
        )
    return "((" + " + ".join(terms) + ") % 2 = 1)"


def morton_sql(x: str, y: str) -> str:
    """Z-order (Morton) index of 16-bit coordinates as pure ARITHMETIC
    (no bit operators — dialect-portable): Σ bit_b(x)·4^b + 2·bit_b(y)·4^b
    with bit_b(v) = FLOOR(v / 2^b) % 2.  Independent formulation of
    cellid.morton_col's shift/mask spread — the two gate each other."""
    terms = []
    for b in range(16):
        p = float(2 ** b)
        terms.append(f"(CAST(FLOOR(({x}) / {p!r}) AS BIGINT) % 2) * {4 ** b}")
        terms.append(f"(CAST(FLOOR(({y}) / {p!r}) AS BIGINT) % 2) * {2 * 4 ** b}")
    return "(" + " + ".join(terms) + ")"


def quadkey_sql(x: str, y: str, zoom: int) -> str:
    """Bing quadkey string (digit per level, MSB first): digit =
    bit(x) + 2·bit(y) — portable CAST-AS-STRING concatenation."""
    digits = []
    for level in range(zoom, 0, -1):
        p = float(2 ** (level - 1))
        d = (f"(CAST(FLOOR(({x}) / {p!r}) AS BIGINT) % 2) + "
             f"2 * (CAST(FLOOR(({y}) / {p!r}) AS BIGINT) % 2)")
        digits.append(f"CAST({d} AS STRING)")
    return "(" + " || ".join(digits) + ")"


GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_nb(precision: int) -> tuple[int, int]:
    total = 5 * precision
    return (total + 1) // 2, total // 2


def geohash_ix_sql(lon: str, precision: int) -> str:
    """Quantized longitude index for a geohash of ``precision`` chars —
    IDENTICAL arithmetic text to the engine's quantization (cellid.
    geohash_col) so the float→int step is bit-deterministic across
    engines; only the bit extraction below differs (independence at the
    encoding layer, the tile_cellid pattern)."""
    nb, _ = _geohash_nb(precision)
    n = 1 << nb
    return (f"LEAST(GREATEST(CAST(FLOOR((({lon}) + 180.0) / 360.0 * "
            f"{float(n)!r}) AS BIGINT), 0), {n - 1})")


def geohash_iy_sql(lat: str, precision: int) -> str:
    _, nb = _geohash_nb(precision)
    n = 1 << nb
    return (f"LEAST(GREATEST(CAST(FLOOR((({lat}) + 90.0) / 180.0 * "
            f"{float(n)!r}) AS BIGINT), 0), {n - 1})")


def geohash_chars_sql(gx: str, gy: str, precision: int) -> str:
    """Geohash string from pre-quantized indices ``gx``/``gy`` (column
    names — compute them once in a subquery with geohash_ix/iy_sql) as
    pure FLOOR/mod ARITHMETIC — no bit operators, dialect-portable, and
    an independent formulation of cellid.geohash_col's shift/mask
    shuffle.  Char k = SUBSTR(alphabet, 1 + Σ bit·2^(4−i), 1) with the
    geohash interleave (code bit t: even → lon, odd → lat, MSB first)."""
    nb_lon, nb_lat = _geohash_nb(precision)

    def bit(t: int) -> str:
        if t % 2 == 0:
            v, j = gx, nb_lon - 1 - t // 2
        else:
            v, j = gy, nb_lat - 1 - (t - 1) // 2
        return f"(CAST(FLOOR(({v}) / {float(2 ** j)!r}) AS BIGINT) % 2)"

    chars = []
    for k in range(precision):
        val = " + ".join(
            f"{bit(5 * k + i)} * {2 ** (4 - i)}" for i in range(5)
        )
        chars.append(f"SUBSTR('{GEOHASH_BASE32}', 1 + ({val}), 1)")
    return "(" + " || ".join(chars) + ")"


def clustered_vec_elem_sql(key: str, i: int, n_clusters: int) -> str:
    """Element ``i`` of a deterministic CLUSTERED embedding derived from
    an integer key: cluster ``c = key % n_clusters`` puts weight 10.0 on
    dimension ``c``; every dimension adds small deterministic noise in
    [0, 0.2).  Center separation (cosine ≈ 0.05 across clusters vs
    ≈ 0.99 within) dwarfs the noise, so the exact cosine top-k of any
    query is provably within its own cluster — which is what lets a
    PRUNED-probe ANN result be gated against the exact-kNN oracle.
    Integer arithmetic only; identical text in both engines."""
    noise = f"(CAST(((({key}) * {97 * i + 13}) % 1000) AS DOUBLE) / 5000.0)"
    if i < n_clusters:
        return (f"((CASE WHEN ({key}) % {n_clusters} = {i} "
                f"THEN 10.0 ELSE 0.0 END) + {noise})")
    return noise


def derived_phash_band_sql(key: str, k: int) -> str:
    """15-bit band ``k`` (k = 0..3) of a deterministic 60-bit perceptual
    hash derived from an integer key, with PLANTED near-duplicates: keys
    share a base hash per group ``g = key div 5`` and the member index
    ``m = key % 5`` flips 0-3 specific bits (m=4 gets an unrelated
    hash).  Pairwise Hamming distances within a group: (0,1)=1, (1,2)=1,
    (0,2)=2, (0,3)=3, (2,3)=3 — all ≤ 3 — and (1,3)=4, just over the
    radius, so a radius-3 gate exercises both sides of the boundary.
    Integer arithmetic + POWER(2, b) with operands < 2^15 (double-safe);
    identical text in both engines.  Key domain |key| < 2^51 (the one
    FLOOR-division goes through a double)."""
    g = f"CAST(FLOOR(({key}) / 5.0) AS BIGINT)"
    m = f"(({key}) % 5)"
    base = f"(({g} * {(4733, 6089, 7451, 9103)[k]} + {(101, 203, 307, 401)[k]}) % 32768)"
    alt = f"(({g} * 5419 + ({key}) * 8287 + {k * k * 977 + 3}) % 32768)"
    cond, bit = {
        0: (f"{m} IN (1, 2)", f"({g} % 15)"),
        1: (f"{m} IN (2, 3)", f"(({g} * 3 + 7) % 15)"),
        2: (f"{m} = 3", f"(({g} * 5 + 11) % 15)"),
        3: (f"{m} = 3", f"(({g} * 7 + 2) % 15)"),
    }[k]
    p = f"POWER(2.0, {bit})"
    bitv = f"(CAST(FLOOR({base} / {p}) AS BIGINT) % 2)"
    flipped = f"({base} + (1 - 2 * {bitv}) * CAST({p} AS BIGINT))"
    return f"(CASE WHEN {m} = 4 THEN {alt} WHEN {cond} THEN {flipped} ELSE {base} END)"


def phash_from_bands_sql(bands: list[str]) -> str:
    """Pack band values (each < 2^15) into one BIGINT: Σ band_k · 2^(15·k).
    Pure integer multiply-add — exact in both engines (the operator's
    shiftright/mask decomposition is the INDEPENDENT formulation gated
    against this packing)."""
    return "(" + " + ".join(
        f"({b}) * {1 << (15 * i)}" for i, b in enumerate(bands)
    ) + ")"


def hamming_bits_sql(a: str, b: str, bits: int) -> str:
    """Hamming distance of two non-negative < 2^bits integers as pure
    arithmetic (Σ |bit_t(a) − bit_t(b)|, bit_t via FLOOR/mod — the same
    dialect-portable style as morton_sql).  Keep bits ≤ 15 per call so
    the FLOOR divisions stay well inside double precision; wider hashes
    sum this per band."""
    terms = []
    for t in range(bits):
        p = float(2 ** t)
        terms.append(
            f"ABS((CAST(FLOOR(({a}) / {p!r}) AS BIGINT) % 2) - "
            f"(CAST(FLOOR(({b}) / {p!r}) AS BIGINT) % 2))"
        )
    return "(" + " + ".join(terms) + ")"


def derived_lon_sql(key: str) -> str:
    return f"(CAST((({key}) * 9973) % 360000 AS DOUBLE) / 1000.0 - 180.0)"


def derived_lat_sql(key: str) -> str:
    # range ±85.05 — inside the Mercator domain, no clamping surprises
    return f"(CAST((({key}) * 7919) % 170100 AS DOUBLE) / 1000.0 - 85.05)"


def simhash_token_bit_sql(tok: str, b: int) -> str:
    """Bit ``b`` (0-based, 0..15) of a PORTABLE 16-bit token hash: the
    first 4 hex chars of md5(tok), each nibble decoded with
    instr('0123456789abcdef', char) - 1 and the bit extracted with
    nonnegative integer modulo — every piece evaluates identically in
    Spark SQL and DuckDB (both md5() functions emit lowercase hex).
    Boolean-valued (bit is set); wrap in CASE at the call site."""
    if not 0 <= b < 16:
        raise ValueError("simhash_token_bit_sql: b must be in [0, 16)")
    j = b // 4 + 1          # hex char (1-based), 4 bits per nibble
    k = 3 - (b % 4)         # bit within the nibble, MSB-first
    nib = f"(instr('0123456789abcdef', substr(md5({tok}), {j}, 1)) - 1)"
    return f"(({nib} % {2 ** (k + 1)}) >= {2 ** k})"


def simhash_vote_agg_sql(tok: str, b: int) -> str:
    """Aggregate SQL for one SimHash bit vote over a group of token
    rows: +1 when the token's hash bit is set, else −1 (Charikar 2002
    sign-random-projection vote)."""
    return f"SUM(CASE WHEN {simhash_token_bit_sql(tok, b)} THEN 1 ELSE -1 END)"


def simhash_combine_sql(votes: list[str]) -> str:
    """Fold per-bit vote columns into the 16-bit SimHash value:
    Σ_b (vote_b > 0) · 2^b, CAST to BIGINT (portable — avoids DuckDB's
    HUGEINT sums leaking into the output schema)."""
    terms = [
        f"(CASE WHEN ({v}) > 0 THEN {2 ** b} ELSE 0 END)"
        for b, v in enumerate(votes)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


# --------------------------------------------------------------- HLL sketch

def md5_nibble_sql(s: str, j: int) -> str:
    """Hex nibble ``j`` (1-based) of md5(s) as a portable integer —
    instr('0123456789abcdef', ·) − 1, identical in Spark SQL and DuckDB
    (both emit lowercase hex)."""
    return f"(instr('0123456789abcdef', substr(md5({s}), {j}, 1)) - 1)"


def hll_reg_sql(s: str) -> str:
    """HyperLogLog register index (p = 8, m = 256 registers) of a string
    expression: the LOW byte of the portable 32-bit md5-prefix hash —
    hex nibbles 7 and 8 (Flajolet et al. 2007 split h = <reg, w>).
    Pure nibble arithmetic: no engine-specific integer division."""
    return f"({md5_nibble_sql(s, 7)} * 16 + {md5_nibble_sql(s, 8)})"


def hll_w_sql(s: str) -> str:
    """The 24-bit tail w of the portable hash (hex nibbles 1..6,
    MSB-first) whose leading-zero count drives the HLL rho.  BIGINT
    accumulation (nibble·16⁵ stays in int32 but Spark 4 ANSI math is
    safest wide)."""
    terms = [
        f"cast({md5_nibble_sql(s, j)} as bigint) * {16 ** (6 - j)}"
        for j in range(1, 7)
    ]
    return "(" + " + ".join(terms) + ")"


def hll_rho_sql(w: str) -> str:
    """rho(w) = position of the leftmost 1-bit of the 24-bit word
    (1-based), 25 when w = 0 — as a pure integer-comparison CASE chain
    (no bin()/log2(), whose widths and float rounding differ between
    engines)."""
    cases = " ".join(
        f"WHEN ({w}) >= {2 ** (24 - k)} THEN {k}" for k in range(1, 25)
    )
    return f"(CASE {cases} ELSE 25 END)"


def hll_inv_pow2_sql(rho: str, max_rho: int = 25) -> str:
    """2^(−rho) as a CASE over EXACT double literals (repr of 2.0**−k
    round-trips bit-exactly in both parsers) — avoids trusting two pow()
    implementations to agree.  Every branch value is a dyadic rational
    ≥ 2^−25, so SUMs of them are exact in IEEE double regardless of
    accumulation order: the downstream estimate is bit-deterministic
    across engines AND across Spark partitionings."""
    cases = " ".join(
        f"WHEN ({rho}) = {k} THEN {2.0 ** -k!r}" for k in range(1, max_rho + 1)
    )
    return f"(CASE {cases} ELSE 1.0 END)"


# ---------------------------------------------------------- Count-Min sketch

CMS_WIDTH = 256                  # portable variant: one md5 byte per row hash


def cms_bucket_sql(s: str, j: int) -> str:
    """Row-``j`` Count-Min bucket (width 256) of string expression
    ``s``: the first byte of md5 salted with the row index — an
    independent hash per sketch row (Cormode & Muthukrishnan 2005 use
    d pairwise-independent hashes; salted md5 prefixes are the portable
    stand-in, same construction as the HLL/winnow portable variants).
    Identical text in Spark SQL and DuckDB."""
    salted = f"concat('cms{j}|', {s})"
    return f"({md5_nibble_sql(salted, 1)} * 16 + {md5_nibble_sql(salted, 2)})"


def cms_gate_sql(src: str, elem: str, probe_src: str, probe_col: str,
                 depth: int = 4) -> str:
    """Complete portable Count-Min gate query: build the d×256 sketch
    over ``elem`` rows of ``src``, then answer point queries for the
    probe items — estimate = min over rows of the hashed bucket's
    count (0 if the bucket is empty), alongside the exact count.
    Generated ONCE, run verbatim by Spark and DuckDB."""
    s = f"cast({elem} as string)"
    p = f"cast({probe_col} as string)"
    sketch_rows = " UNION ALL ".join(
        f"SELECT {j} AS rw, {cms_bucket_sql(s, j)} AS bucket, "
        f"COUNT(*) AS cnt FROM {src} GROUP BY 2"
        for j in range(1, depth + 1)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT {probe_col} AS item, {j} AS rw, {cms_bucket_sql(p, j)} AS bucket "
        f"FROM {probe_src}"
        for j in range(1, depth + 1)
    )
    return f"""
WITH sk AS ({sketch_rows}),
pr AS ({probe_rows}),
est AS (
  SELECT pr.item, MIN(COALESCE(sk.cnt, 0)) AS cms_est
  FROM pr LEFT JOIN sk ON pr.rw = sk.rw AND pr.bucket = sk.bucket
  GROUP BY pr.item
),
ex AS (SELECT {elem} AS item, COUNT(*) AS exact_cnt FROM {src} GROUP BY 1)
SELECT est.item, CAST(est.cms_est AS BIGINT) AS cms_est,
       CAST(COALESCE(ex.exact_cnt, 0) AS BIGINT) AS exact_cnt
FROM est LEFT JOIN ex ON est.item = ex.item
"""


# --------------------------------------------------------------- HLL sketch

HLL_M = 256                      # p = 8 (portable variant is fixed-width)
HLL_ALPHA_M2 = 0.7213 / (1.0 + 1.079 / HLL_M) * HLL_M * HLL_M


def hll_estimate_sql(src: str, group_cols: list[str], elem: str,
                     salt: str = "") -> str:
    """Complete portable HyperLogLog query (p = 8): per-group register
    maxima → raw estimate α_m·m²/Σ2^−M_j, with unseen registers
    contributing 2^0 = 1 each; NULL elements dropped (COUNT(DISTINCT)
    semantics).  Generated ONCE, run verbatim by Spark and DuckDB.  Output: group_cols, n_reg (registers hit), exact-dyadic
    sum_inv, estimate (ROUND(·,3) of a bit-identical double)."""
    g = ", ".join(group_cols)
    s = f"concat('{salt}', cast({elem} as string))" if salt \
        else f"cast({elem} as string)"
    return f"""
WITH b AS (
  SELECT {g}, {hll_reg_sql(s)} AS reg, {hll_rho_sql(hll_w_sql(s))} AS rho
  FROM {src} WHERE ({elem}) IS NOT NULL
),
r AS (SELECT {g}, reg, MAX(rho) AS mr FROM b GROUP BY {g}, reg),
s AS (
  SELECT {g}, COUNT(*) AS n_reg,
         SUM({hll_inv_pow2_sql('mr')}) + ({HLL_M} - COUNT(*)) * 1.0 AS sum_inv
  FROM r GROUP BY {g}
)
SELECT {g}, CAST(n_reg AS BIGINT) AS n_reg,
       ROUND({HLL_ALPHA_M2!r} / sum_inv, 3) AS hll_estimate
FROM s
"""


def _hex_frac_sql(lon: str, lat: str, s: float) -> tuple[str, str]:
    """Fractional axial coords (qf, rf) of the pointy-top hex lattice
    with circumradius ``s`` degrees — arithmetic text token-identical
    to hexgrid.hex_cell / hex_cell_cols so all three formulations
    produce bit-identical doubles (the geohash FP-parity pattern)."""
    from .hexgrid import ONE_THIRD, SQRT3_OVER_3, TWO_THIRDS

    qf = f"((({lon}) * {SQRT3_OVER_3!r} - ({lat}) * {ONE_THIRD!r}) / {s!r})"
    rf = f"((({lat}) * {TWO_THIRDS!r}) / {s!r})"
    return qf, rf


def hex_qr_sql(lon: str, lat: str, s: float) -> tuple[str, str]:
    """(q_sql, r_sql): the axial cell of point (lon, lat) via cube
    rounding — round the three fractional cube coords, then repair the
    component with the largest rounding error so q+r+s=0.  FLOOR(x+0.5)
    is used instead of ROUND so both engines share one tie rule.
    The DuckDB-oracle formulation of hexgrid.hex_cell (the engine's
    independence check is the nearest-center brute force in
    tests/test_hexgrid.py)."""
    qf, rf = _hex_frac_sql(lon, lat, s)
    sf = f"((0.0 - {qf}) - {rf})"
    rq = f"CAST(FLOOR({qf} + 0.5) AS BIGINT)"
    rr = f"CAST(FLOOR({rf} + 0.5) AS BIGINT)"
    rs = f"CAST(FLOOR({sf} + 0.5) AS BIGINT)"
    dq = f"ABS({rq} - {qf})"
    dr = f"ABS({rr} - {rf})"
    ds = f"ABS({rs} - {sf})"
    fix_q = f"({dq} > {dr} AND {dq} > {ds})"
    fix_r = f"(NOT {fix_q} AND {dr} > {ds})"
    q = f"(CASE WHEN {fix_q} THEN (0 - {rr}) - {rs} ELSE {rq} END)"
    r = f"(CASE WHEN {fix_r} THEN (0 - {rq}) - {rs} ELSE {rr} END)"
    return q, r
