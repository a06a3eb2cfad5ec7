"""Round-5 extensions — SURVEY.md §2.19.

Operators closing the round-4 verdict's remaining fidelity gaps
(reference parity per SURVEY §0: the checkout was empty, so each row
cites the public capability it generalizes):

- ``geo_point_in_polygon_table`` — point-in-polygon against a staged
  polygon TABLE (60 non-convex polygons) via a grid-cell-index
  candidate join + exact PNPOLY verify. The reference's production
  spatial step assigns trip endpoints to ~hundreds of council-district
  / census-tract polygons loaded from data files ([P high], SURVEY
  §2.9); the literal-compiled ``geo_point_in_polygon`` has the right
  algebra but wrong cardinality — THIS is the shape that scales to a
  real polygon table.
- ``mm_decode_wav`` — REAL audio decode of PCM WAV bytes (RIFF header
  parse + int16 sample decode in Arrow ``mapInPandas``), staged via
  ``struct.pack`` encoding so the oracle can recompute duration/RMS/
  peak from the pre-encode closed form. Converts the multimodal area
  from rows-only stubs to a hash-checked key (round-4 verdict
  missing-list item 3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.json_fast import with_json_field
from ..registry import query
from ..tables import load, stage_scratch

# ---------------------------------------------------------------------------
# geo_point_in_polygon_table — PIP against a staged polygon table
# ---------------------------------------------------------------------------

# 8-vertex star offsets (unit lattice, scaled per polygon): alternating
# radius-3 / radius-~2.2 vertices => NON-convex for every polygon. No
# consecutive pair shares a y, so no horizontal-edge inf/nan terms.
_PIPT_OFF = [(3, 0), (1, 2), (0, 3), (-1, 2), (-3, 0), (-1, -2), (0, -3), (1, -2)]
_PIPT_N_POLY = 60
_PIPT_CELL = 0.02  # grid-index cell size (degrees)

# SQL fragments shared verbatim between the Spark staging expressions
# and the DuckDB oracle so every vertex double is bit-identical.
_PIPT_CX = "-97.93e0 + ({i} % 10) * 0.04e0"
_PIPT_CY = "30.12e0 + ({i} // 10) * 0.06e0"
_PIPT_S = "0.004e0 + ({i} % 4) * 0.002e0"


def _stage_polygons(spark: SparkSession, sf_dir: str) -> str:
    """Stage the polygon dimension TABLE: 60 deterministic non-convex
    star polygons tiling the synthetic coordinate space, one row per
    polygon with its vertex array — the council-district/census-tract
    file the reference loads, in staged-parquet form. Vertices are
    computed with Spark SQL expressions textually mirroring the
    oracle's so both engines derive bit-identical doubles."""

    def build(indir: str) -> None:
        i = F.col("id").cast("int")
        cx = F.expr(_PIPT_CX.format(i="CAST(id AS INT)"))
        cy = F.expr(_PIPT_CY.format(i="CAST(id AS INT)").replace("//", "DIV"))
        s = F.expr(_PIPT_S.format(i="CAST(id AS INT)"))
        verts = F.array(
            *[
                F.struct(
                    (F.col("cx") + F.lit(float(dx)) * F.col("s")).alias("x"),
                    (F.col("cy") + F.lit(float(dy)) * F.col("s")).alias("y"),
                )
                for dx, dy in _PIPT_OFF
            ]
        )
        (
            spark.range(_PIPT_N_POLY)
            .select(
                i.alias("zone_id"),
                cx.alias("cx"),
                cy.alias("cy"),
                s.alias("s"),
            )
            .select("zone_id", "cx", "cy", "s", verts.alias("verts"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(indir)
        )

    # marker on events: the polygon set is fixed, but staging follows
    # the shared freshness protocol keyed on the point source
    return stage_scratch("geo_pip_table", sf_dir, "events", build)


def _pipt_inside(verts: Column, px: Column, py: Column) -> Column:
    """Exact PNPOLY crossing-parity test of (px, py) against the
    8-vertex polygon ``verts`` — one F.aggregate over the edge list,
    pure codegen HOF (no explode, no Python)."""
    nv = len(_PIPT_OFF)

    def crossings(acc: Column, k: Column) -> Column:
        v1 = F.element_at(verts, k + 1)
        v2 = F.element_at(verts, ((k + 1) % nv) + 1)
        crosses = ((v1["y"] > py) != (v2["y"] > py)) & (
            px < (v2["x"] - v1["x"]) * (py - v1["y"]) / (v2["y"] - v1["y"]) + v1["x"]
        )
        return acc + F.when(crosses, 1).otherwise(0)

    total = F.aggregate(F.sequence(F.lit(0), F.lit(nv - 1)), F.lit(0), crossings)
    return total % 2 == 1


@query(
    "geo_point_in_polygon_table",
    oracle=f"""
    WITH pts AS (
      SELECT event_id,
             (-97.95e0) + (abs(value) % 40.0e0) / 100.0e0 AS px,
             30.10e0 + (user_id % 40) / 100.0e0 AS py,
             value
      FROM events
    ), off(k, dx, dy) AS (
      VALUES {", ".join(f"({k}, {dx}, {dy})" for k, (dx, dy) in enumerate(_PIPT_OFF))}
    ), polys AS (
      SELECT i AS zone_id,
             {_PIPT_CX.format(i="i")} AS cx,
             {_PIPT_CY.format(i="i")} AS cy,
             {_PIPT_S.format(i="i")} AS s
      FROM range({_PIPT_N_POLY}) t(i)
    ), verts AS (
      SELECT zone_id, k, cx + dx * s AS vx, cy + dy * s AS vy
      FROM polys CROSS JOIN off
    ), edges AS (
      SELECT a.zone_id, a.vx AS x1, a.vy AS y1, b.vx AS x2, b.vy AS y2
      FROM verts a JOIN verts b
        ON a.zone_id = b.zone_id AND b.k = (a.k + 1) % {len(_PIPT_OFF)}
    ), hits AS (
      SELECT p.event_id, e.zone_id, p.value,
             SUM(CASE WHEN (y1 > py) <> (y2 > py)
                       AND px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
                  THEN 1 ELSE 0 END) AS crossings
      FROM pts p CROSS JOIN edges e
      GROUP BY p.event_id, e.zone_id, p.value
    )
    SELECT zone_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS sum_value
    FROM hits
    WHERE crossings % 2 = 1
    GROUP BY zone_id
    """,
)
def geo_point_in_polygon_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon against a polygon TABLE at real cardinality:
    60 staged non-convex star polygons (council-district/census-tract
    shape, [P high] — the reference's production spatial assignment
    loads polygon files, it does not inline literals), points from
    events via the same deterministic synthesis as
    ``geo_point_in_polygon``.

    Scale plan — the many-polygon shape the literal-compiled twin
    cannot express:
    1. CANDIDATE GENERATION by grid-cell index: each polygon's bbox
       expands to its covering 0.02° cells (≤16 cells/polygon, 960
       slim rows total); each point maps to exactly ONE cell. The
       equi-join on (cell_x, cell_y) broadcasts the tiny cell index —
       NO CartesianProduct, and the 100 TB point table is never
       shuffled (plan-asserted in test_engine_units.py).
    2. EXACT VERIFY: PNPOLY crossing parity over the candidate's
       vertex array via one F.aggregate HOF — pure codegen, no
       explode, no Python. Bit-identical to the oracle's edge-table
       formulation because every arithmetic step is the same IEEE
       expression on both engines.
    3. One combinable agg shuffle on zone_id; exact DECIMAL(18,4)
       value summation (order-free, the round-4 house pattern).

    At 1000 executors this is: broadcast 960-row index, map-side
    cell hash + 16-edge parity check per candidate, one partial agg —
    the canonical spatial-join-by-grid-blocking design (same family
    as geo_bbox_join / join_interval_overlap bucket blocking)."""
    polys = spark.read.parquet(_stage_polygons(spark, sf_dir))
    g = float(_PIPT_CELL)
    rad = 3.0  # max |offset| in lattice units

    # polygon -> covering grid cells (bbox cover; slim (cell, zone) rows)
    cells = polys.select(
        "zone_id",
        "verts",
        F.explode(
            F.sequence(
                F.floor((F.col("cx") - rad * F.col("s")) / g).cast("int"),
                F.floor((F.col("cx") + rad * F.col("s")) / g).cast("int"),
            )
        ).alias("cell_x"),
        F.col("cy"),
        F.col("s"),
    ).select(
        "zone_id",
        "verts",
        "cell_x",
        F.explode(
            F.sequence(
                F.floor((F.col("cy") - rad * F.col("s")) / g).cast("int"),
                F.floor((F.col("cy") + rad * F.col("s")) / g).cast("int"),
            )
        ).alias("cell_y"),
    )

    ev = load(spark, sf_dir, "events")
    px = F.lit(-97.95) + (F.abs(F.col("value")) % F.lit(40.0)) / F.lit(100.0)
    py = F.lit(30.10) + (F.col("user_id") % 40) / F.lit(100.0)
    pts = ev.select(
        px.alias("px"),
        py.alias("py"),
        F.col("value"),
        F.floor(px / g).cast("int").alias("cell_x"),
        F.floor(py / g).cast("int").alias("cell_y"),
    )

    cand = pts.join(F.broadcast(cells), ["cell_x", "cell_y"])
    inside = cand.where(_pipt_inside(F.col("verts"), F.col("px"), F.col("py")))
    return inside.groupBy("zone_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
        ).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# mm_decode_wav — real PCM WAV decode through Arrow mapInPandas
# ---------------------------------------------------------------------------

_WAV_SCHEMA = (
    "clip_id long, sample_rate long, n_samples long, "
    "duration_ms double, rms double, peak long"
)


def _wav_params(clip_id: int) -> tuple[int, int]:
    """Deterministic per-clip (n_samples, sample_rate) — closed form
    shared with the oracle SQL."""
    return 400 + (clip_id % 7) * 160, 8000 * (1 + clip_id % 3)


def _wav_amps(clip_id: int, n: int):
    """Deterministic int16 sample stream for one clip (closed form
    shared with the oracle SQL): amp(k) in [-10000, 10000]."""
    import numpy as np

    k = np.arange(n, dtype=np.int64)
    return ((clip_id * 7919 + k * 104729) % 20001 - 10000).astype("<i2")


def _stage_wavs(spark: SparkSession, sf_dir: str) -> str:
    """Stage one REAL RIFF/WAVE PCM file per clip (clip list = the
    distinct user_id % 200 buckets present in events): 44-byte
    canonical header via struct.pack + little-endian int16 mono
    samples. The encode runs DISTRIBUTED through mapInPandas — the
    same code path that would write millions of clips at 100 TB —
    and parquet carries (clip_id, wav binary) only: every downstream
    value must come out of the DECODE."""

    def build(indir: str) -> None:
        import struct

        import pandas as pd

        def encode(batches):
            for pdf in batches:
                out = []
                for cid in pdf["clip_id"]:
                    cid = int(cid)
                    n, rate = _wav_params(cid)
                    data = _wav_amps(cid, n).tobytes()
                    hdr = (
                        b"RIFF"
                        + struct.pack("<I", 36 + len(data))
                        + b"WAVE"
                        + b"fmt "
                        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
                        + b"data"
                        + struct.pack("<I", len(data))
                    )
                    out.append((cid, hdr + data))
                yield pd.DataFrame(out, columns=["clip_id", "wav"])

        clips = (
            load(spark, sf_dir, "events")
            .select((F.col("user_id") % 200).alias("clip_id"))
            .distinct()
        )
        (
            clips.mapInPandas(encode, "clip_id long, wav binary")
            .write.mode("overwrite")
            .parquet(indir)
        )

    return stage_scratch("mm_wav", sf_dir, "events", build)


@query(
    "mm_decode_wav",
    oracle="""
    WITH clips AS (
      SELECT DISTINCT user_id % 200 AS clip_id FROM events
    ), params AS (
      SELECT clip_id,
             400 + (clip_id % 7) * 160 AS n_samples,
             8000 * (1 + clip_id % 3) AS sample_rate
      FROM clips
    ), samples AS (
      SELECT p.clip_id, p.n_samples, p.sample_rate,
             ((p.clip_id * 7919 + t.k * 104729) % 20001) - 10000 AS amp
      FROM params p CROSS JOIN range(1360) t(k)
      WHERE t.k < p.n_samples

    )
    SELECT clip_id,
           CAST(sample_rate AS BIGINT) AS sample_rate,
           CAST(n_samples AS BIGINT) AS n_samples,
           CAST(n_samples AS DOUBLE) / sample_rate * 1000.0 AS duration_ms,
           SQRT(CAST(SUM(amp * amp) AS DOUBLE) / n_samples) AS rms,
           CAST(MAX(ABS(amp)) AS BIGINT) AS peak
    FROM samples
    GROUP BY clip_id, sample_rate, n_samples
    """,
)
def mm_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, hash-checked (round-4 verdict item 5): the
    staged table carries only (clip_id, wav BINARY); this query parses
    the RIFF/WAVE header with struct.unpack (validating magics and
    PCM format), decodes the little-endian int16 samples with
    numpy.frombuffer, and emits per-clip sample_rate / n_samples /
    duration / RMS / peak — ALL derived from the bytes. The oracle
    recomputes the same figures from the pre-encode closed form (the
    fn_geojson_route staging pattern), so a single wrong byte offset
    in the parser flips the hash.

    Exactness: sum-of-squares accumulates in int64 (exact, max ~1.4e11
    < 2^53), so rms = sqrt(ss/n) and duration = n/rate*1000 are the
    same correctly-rounded IEEE expressions on both engines — no
    ROUND needed, the doubles match bit-for-bit.

    Scale shape: binary payloads stay columnar through Arrow; decode
    is a stateless mapInPandas over whatever partitioning the clips
    arrive in (no shuffle at all — the per-clip output needs no
    aggregation because a clip is one row). This is the real-codec
    template: swap the body for soundfile/librosa and the Spark-side
    plumbing (schema, batching, binary transport) is unchanged —
    exactly what mm_decode_stub documents for JPEG/PNG, now proven
    end-to-end on a codec the container CAN handle."""

    def decode(batches):
        import struct

        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for cid, buf in zip(pdf["clip_id"], pdf["wav"]):
                buf = bytes(buf)
                if buf[0:4] != b"RIFF" or buf[8:12] != b"WAVE":
                    raise ValueError(f"clip {cid}: not a RIFF/WAVE file")
                if buf[12:16] != b"fmt ":
                    raise ValueError(f"clip {cid}: missing fmt chunk")
                fmt_size, audio_fmt, channels, rate, _byte_rate, _align, bits = (
                    struct.unpack("<IHHIIHH", buf[16:36])
                )
                if (fmt_size, audio_fmt, channels, bits) != (16, 1, 1, 16):
                    raise ValueError(f"clip {cid}: not 16-bit mono PCM")
                if buf[36:40] != b"data":
                    raise ValueError(f"clip {cid}: missing data chunk")
                (data_size,) = struct.unpack("<I", buf[40:44])
                amps = np.frombuffer(buf[44 : 44 + data_size], dtype="<i2")
                n = len(amps)
                a64 = amps.astype(np.int64)
                ss = int(np.sum(a64 * a64))
                rows.append(
                    (
                        int(cid),
                        int(rate),
                        n,
                        n / rate * 1000.0,
                        (ss / n) ** 0.5,
                        int(np.max(np.abs(a64))),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "clip_id",
                    "sample_rate",
                    "n_samples",
                    "duration_ms",
                    "rms",
                    "peak",
                ],
            )

    wavs = spark.read.parquet(_stage_wavs(spark, sf_dir))
    return wavs.mapInPandas(decode, _WAV_SCHEMA)


# ---------------------------------------------------------------------------
# geo_od_matrix — origin-destination flow matrix with k-anonymity suppression
# ---------------------------------------------------------------------------


@query(
    "geo_od_matrix",
    oracle="""
    WITH trips AS (
      SELECT CONCAT(CAST(CAST(FLOOR(value / 50) AS BIGINT) AS VARCHAR), '_',
                    COALESCE(CAST(CAST(FLOOR(CAST(json_extract_string(props, '$.k') AS INTEGER) / 25.0) AS BIGINT) AS VARCHAR), 'x')) AS o_cell,
             CONCAT(CAST(CAST(FLOOR((value + (user_id % 7) * 30.0e0) / 50) AS BIGINT) AS VARCHAR), '_',
                    COALESCE(CAST(CAST(FLOOR((CAST(json_extract_string(props, '$.k') AS INTEGER) + event_id % 5) / 25.0) AS BIGINT) AS VARCHAR), 'x')) AS d_cell,
             value
      FROM events
    )
    SELECT o_cell, d_cell,
           CAST(COUNT(*) AS BIGINT) AS n_trips,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS sum_value
    FROM trips
    GROUP BY o_cell, d_cell
    HAVING COUNT(*) >= 5
    """,
)
def geo_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flow matrix with k-anonymity suppression —
    the reference's PUBLISHED data product shape ([P high]: public
    dockless-mobility datasets are exactly OD trip counts between
    coarse geography cells, with sparse pairs suppressed below a
    k-anonymity floor so no individual trip is identifiable).
    Origin/destination cells are derived deterministically from event
    fields with the same floor-grid formula as ``geo_grid_bin``;
    pairs with fewer than 5 trips are suppressed (HAVING).

    Scale shape: pure codegen cell derivation (zero pre-agg shuffle),
    ONE combinable agg exchange on the cell key, suppression as a
    post-agg filter — at 100 TB this is the same map + partial-agg +
    final-agg profile as geo_grid_bin with a composite key. Exact
    DECIMAL(18,4) value sums (order-free, the round-4 house
    pattern).

    r14 optimization round (guide §2.3 shuffle keys/metadata, not
    payloads): the pre-r14 form built the two CELL STRINGS per input
    row and grouped on them — every row paid 2 concat_ws + 4
    long→string casts before the partial agg, and the exchange
    carried two strings. This form groups on the four underlying
    LONG components (floor(value/50), floor(k/25), ...) and formats
    the strings ONCE PER SURVIVING GROUP after the HAVING filter.
    The component→string mapping is injective (integer formatting
    never collides; a missing-k NULL renders as 'x', which no
    numeric component can produce; a NULL first component drops its
    separator, yielding a string with no '_' that only that shape
    can make), so the grouping partition is identical and the
    result bit-identical — pinned against the string-key twin in
    tests, incl. a synthesized null-k corpus for the 'x' path the
    stock corpus never exercises. Isolated-process ×100 A/B (fresh
    process per form, 5 hot runs, 2 epochs): packed 0.844/1.078 s
    vs string-key 3.397/3.169 s (~3× faster)."""
    return _od_matrix(spark, sf_dir, int_components=True)


def _od_matrix_stringkey_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-r14 form: per-row cell-string build, groupBy on the
    two strings. Kept as the cross-form equality witness for the
    registered integer-component form (isolated ×100 epochs:
    string-key 3.397/3.169 s vs packed 0.844/1.078 s)."""
    return _od_matrix(spark, sf_dir, int_components=False)


def _od_matrix(
    spark: SparkSession, sf_dir: str, int_components: bool
) -> DataFrame:
    # project the JSON field ONCE: o_cell and d_cell both use k, and
    # Catalyst only de-duplicates cheap expressions — inlining the
    # raw extraction would parse every props document twice
    ev = with_json_field(
        load(spark, sf_dir, "events"), "k", "props", "k", "int"
    ).select("event_id", "user_id", "value", "k")
    k = F.col("k")
    o1 = F.floor(F.col("value") / 50)
    o2 = F.floor(k / 25.0)
    d1 = F.floor((F.col("value") + (F.col("user_id") % 7) * F.lit(30.0)) / 50)
    d2 = F.floor((k + F.col("event_id") % 5) / 25.0)

    # COALESCE the k-derived cell components (both engines): DuckDB
    # CONCAT keeps the '_' separator on a NULL operand while Spark
    # concat_ws drops it, so a NULL props.$.k would hash-diverge.
    def cell(a, b):
        return F.concat_ws(
            "_", a.cast("string"), F.coalesce(b.cast("string"), F.lit("x"))
        )

    aggs = [
        F.count(F.lit(1)).alias("n_trips"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
        ).alias("sum_value"),
    ]
    if not int_components:
        return (
            ev.select(
                cell(o1, o2).alias("o_cell"), cell(d1, d2).alias("d_cell"), "value"
            )
            .groupBy("o_cell", "d_cell")
            .agg(*aggs)
            .where(F.col("n_trips") >= 5)
        )
    return (
        ev.select(
            o1.alias("o1"), o2.alias("o2"), d1.alias("d1"), d2.alias("d2"), "value"
        )
        .groupBy("o1", "o2", "d1", "d2")
        .agg(*aggs)
        .where(F.col("n_trips") >= 5)
        .select(
            cell(F.col("o1"), F.col("o2")).alias("o_cell"),
            cell(F.col("d1"), F.col("d2")).alias("d_cell"),
            "n_trips",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# dq_profile_table — one-pass multi-column data profile
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["o_orderstatus", "o_orderpriority", "o_orderdate", "o_custkey", "o_totalprice"]


@query(
    "dq_profile_table",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS col_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM orders
        """
        for c in _PROFILE_COLS
    ),
)
def dq_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass multi-column data profile (row count / null count /
    exact distinct cardinality per column) — the schema-drift and
    data-quality screen every ingest pipeline runs before publishing
    ([P med]; generalizes the reference's pre-publication sanity
    checks, and the profiling step of a training-data intake).

    Scale shape: one union branch PER COLUMN, each a
    groupBy(col).count() (map-side combinable — the exchange carries
    the column's distinct values, not the rows) folded to a single
    profile row. Each branch's scan is column-pruned to ONE parquet
    column. The original one-pass multi-distinct agg was A/B'd and
    REJECTED at ×100 (BASELINE.md legacy batch 4): Catalyst plans k
    distinct aggregates with Expand ×(k+1) — every row replicated 6×
    into the distinct-hash shuffle — and measured 7.2 s vs 2.1 s for
    this form (the oracle's naive per-column UNION ALL is the same
    plan family, 5 pruned scans)."""
    o = load(spark, sf_dir, "orders")
    branches = []
    for c in _PROFILE_COLS:
        g = o.groupBy(F.col(c).alias("v")).agg(F.count(F.lit(1)).alias("cnt"))
        branches.append(
            g.agg(
                F.lit(c).alias("col_name"),
                F.sum("cnt").alias("n_rows"),
                F.coalesce(
                    F.sum(F.when(F.col("v").isNull(), F.col("cnt"))), F.lit(0)
                ).alias("n_null"),
                F.count_if(F.col("v").isNotNull()).alias("n_distinct"),
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


# ---------------------------------------------------------------------------
# agg_hll_deterministic — cross-engine-deterministic HyperLogLog sketch
# ---------------------------------------------------------------------------

# Register rho (leading-zero-run length + 1) of the 60-bit hash tail,
# derived PURELY from the md5 hex string with TRIM/length/substr/CASE
# — shared verbatim between the Spark expression and the DuckDB
# oracle so both engines compute identical integers (no engine-
# specific bit intrinsics). An all-zero tail scores the sentinel 61.
_HLL_RHO = (
    "CAST(CASE WHEN TRIM(LEADING '0' FROM {t}) = '' THEN 61 "
    "ELSE (15 - length(TRIM(LEADING '0' FROM {t}))) * 4 "
    "+ CASE substr(TRIM(LEADING '0' FROM {t}), 1, 1) "
    "WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2 "
    "WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1 "
    "ELSE 0 END + 1 END AS INT)"
)

# Raw HLL estimator alpha_256 * m^2 / sum(2^-M_j), algebraically
# rescaled by 2^61 so every harmonic term 2^(61-M) is an EXACT
# bigint (shiftleft — POWER's double round-trips through a decimal
# cast differently per engine and was measured 2 ulp off); the sum
# accumulates in DECIMAL(38,0) (256 * 2^61 < 10^38, order-free) and
# is surfaced as the deterministic DOUBLE both engines derive from
# the same exact integer. One double division, identical both sides.
_HLL_EST = (
    "ROUND(0.7213e0 / (1e0 + 1.079e0 / 256e0) * 65536e0 "
    "* 2305843009213693952e0 / s_scaled, 4)"
)

# term: exact bigint 2^(61-m), then exact decimal accumulate; the
# shift spelling differs per engine (shiftleft vs <<) but both are
# integer-exact so no shared-fragment requirement.
_HLL_TERM_SPARK = "CAST(shiftleft(CAST(1 AS BIGINT), 61 - m) AS DECIMAL(38,0))"
_HLL_TERM_DUCK = "CAST((CAST(1 AS BIGINT) << (61 - m)) AS DECIMAL(38,0))"


@query(
    "agg_hll_deterministic",
    oracle="""
    WITH h AS (
      SELECT md5(CAST(o_custkey AS VARCHAR)) AS h FROM orders
    ), parts AS (
      SELECT CAST('0x' || substr(h, 1, 2) AS BIGINT) AS reg,
             substr(h, 3, 15) AS tail
      FROM h
    ), rho AS (
      SELECT reg, {rho} AS rho FROM parts
    ), regs AS (
      SELECT s.reg, COALESCE(MAX(r.rho), 0) AS m
      FROM range(256) s(reg) LEFT JOIN rho r ON r.reg = s.reg
      GROUP BY s.reg
    ), agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m_regs,
             CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS v_empty,
             MAX(m) AS r_max,
             CAST(SUM({term}) AS DOUBLE) AS s_scaled
      FROM regs
    )
    SELECT m_regs, v_empty, r_max, s_scaled, {est} AS est_r4 FROM agg
    """.format(
        rho=_HLL_RHO.format(t="tail"),
        est=_HLL_EST,
        term=_HLL_TERM_DUCK,
    ),
)
def agg_hll_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch that is hash-checkable ACROSS
    ENGINES — the deterministic twin of `agg_approx_distinct` (which
    stays rows-only because Spark's HLL++ and DuckDB's HLL use
    different hash functions). Every stage here is engine-neutral SQL:
    md5 (same bytes hashed on both sides), register = first 2 hex
    chars, rho = leading-zero run of the next 60 bits computed by
    string inspection (`_HLL_RHO`, shared verbatim), harmonic sum
    rescaled to an exact DECIMAL(38,0), and ONE double division for
    the raw estimate (no small/large-range correction — documented,
    identical formula both engines). Estimate at sf0.01: 1453.8 vs
    1500 true (within the m=256 ~6.5% standard error).

    Scale shape — this is the 100 TB distinct-count plan: NO distinct
    exchange at all. The scan maps each row to (register, rho) in
    codegen; `groupBy(reg).max` is map-side combinable, so the only
    shuffle carries <=256*n_partitions tiny rows regardless of input
    size (vs `distinct`'s full-width repartition of every unique
    key). Registers are MERGEABLE state: max-combine across
    partitions, shards, or days — the property that lets a cluster
    keep per-file sketches and union them for free. The 256-row spine
    join and final 1-row aggregate are negligible."""
    orders = load(spark, sf_dir, "orders")
    parts = orders.select(
        F.md5(F.col("o_custkey").cast("string")).alias("h")
    ).select(
        F.conv(F.substring("h", 1, 2), 16, 10).cast("bigint").alias("reg"),
        F.substring("h", 3, 15).alias("tail"),
    )
    rho = parts.select("reg", F.expr(_HLL_RHO.format(t="tail")).alias("rho"))
    regs = rho.groupBy("reg").agg(F.max("rho").alias("m_raw"))
    spine = spark.range(256).select(F.col("id").alias("reg"))
    full = spine.join(regs, "reg", "left").select(
        F.coalesce("m_raw", F.lit(0)).alias("m")
    )
    return full.agg(
        F.count(F.lit(1)).alias("m_regs"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0)).alias("v_empty"),
        F.max("m").alias("r_max"),
        F.sum(F.expr(_HLL_TERM_SPARK)).cast("double").alias("s_scaled"),
    ).select(
        "m_regs", "v_empty", "r_max", "s_scaled", F.expr(_HLL_EST).alias("est_r4")
    )


# ---------------------------------------------------------------------------
# src_binary_files — binaryFile datasource ingest (multimodal intake path)
# ---------------------------------------------------------------------------


def _stage_blob_files(spark: SparkSession, sf_dir: str) -> str:
    """Stage one opaque .bin blob per selected document (doc_id % 7),
    content = the document's utf-8 text bytes. The writes run
    DISTRIBUTED through mapInPandas (each task writes its own files
    then reports a count — the shape of a binary-export stage); the
    staged directory carries NOTHING but the blobs, so everything the
    query emits must come from the datasource read itself."""

    def build(indir: str) -> None:
        import os

        import pandas as pd

        os.makedirs(indir, exist_ok=True)

        def write_files(batches):
            for pdf in batches:
                for did, text in zip(pdf["doc_id"], pdf["text"]):
                    p = os.path.join(indir, f"doc_{int(did)}.bin")
                    tmp = f"{p}.tmp"
                    with open(tmp, "wb") as fh:
                        fh.write(str(text).encode("utf-8"))
                    os.replace(tmp, p)
                yield pd.DataFrame({"n": [len(pdf)]})

        docs = (
            load(spark, sf_dir, "documents")
            .where((F.col("doc_id") % 7 == 0) & F.col("text").isNotNull())
            .select("doc_id", "text")
        )
        # count() materializes the side-effect writes (task-level
        # retries rewrite the same content; os.replace is atomic)
        docs.mapInPandas(write_files, "n long").count()

    return stage_scratch("src_binfiles", sf_dir, "documents", build)


@query(
    "src_binary_files",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    WHERE doc_id % 7 = 0 AND text IS NOT NULL
    """,
)
def src_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` datasource ingest — the intake path a multimodal
    corpus actually uses (one blob per image/audio/doc object): read a
    directory of opaque .bin files as (path, length, content BINARY)
    rows, derive the record key from the file name and fingerprint the
    payload with md5. The oracle recomputes byte length (strlen =
    octet count) and md5 from the pre-staging text on the driver
    table, so a truncated write, a stray extra file, or a wrong
    glob all flip the hash.

    Scale shape: binaryFile is a real FileFormat — file listing is
    distributed, `pathGlobFilter` prunes at the listing (never reads
    non-matching objects), each file is one row in a split sized by
    maxPartitionBytes bin-packing MANY small blobs per task (the
    small-files story), and content stays columnar binary through the
    scan. The projection here never touches `modificationTime`, so
    schema pruning drops it. This is the front door that feeds
    mm_decode_stub/mm_decode_wav-style Arrow decode stages."""
    indir = _stage_blob_files(spark, sf_dir)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(indir)
    )
    return files.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


# ---------------------------------------------------------------------------
# dq_psi_drift — population-stability-index drift report
# ---------------------------------------------------------------------------

# Laplace-smoothed bin share and PSI contribution, shared verbatim
# between the Spark expressions and the oracle so the ln() inputs are
# bit-identical doubles (the llm_unigram_logprob precedent: identical
# input + rounding makes cross-engine ln safe in practice). ROUND 5,
# not 6: a last-ulp JVM-StrictMath-vs-libm ln difference only flips
# the rounded value when the true value sits within ~1 ulp of a
# x.xxxx5 boundary, and widening the boundary spacing 10x cuts that
# residual flake probability 10x (round-6 ADVICE item).
_PSI_P = "((CAST({c} AS DOUBLE) + 0.5e0) / (CAST({t} AS DOUBLE) + 4e0))"
_PSI_CONTRIB = (
    "ROUND(({pa} - {pb}) * ln({pa} / {pb}), 5)"
)


@query(
    "dq_psi_drift",
    oracle="""
    WITH binned AS (
      SELECT LEAST(CAST(FLOOR(value / 70e0) AS INT), 7) AS bin,
             user_id % 2 AS cohort
      FROM events
    ), cells AS (
      SELECT s.bin,
             CAST(COALESCE(SUM(CASE WHEN b.cohort = 0 THEN 1 END), 0)
                  AS BIGINT) AS cnt_ref,
             CAST(COALESCE(SUM(CASE WHEN b.cohort = 1 THEN 1 END), 0)
                  AS BIGINT) AS cnt_cur
      FROM range(8) s(bin) LEFT JOIN binned b ON b.bin = s.bin
      GROUP BY s.bin
    ), tot AS (
      SELECT SUM(cnt_ref) AS t_ref, SUM(cnt_cur) AS t_cur FROM cells
    ), contrib AS (
      SELECT c.bin, c.cnt_ref, c.cnt_cur,
             CAST({contrib} AS DECIMAL(18,5)) AS contrib_d
      FROM cells c CROSS JOIN tot
    )
    SELECT bin, cnt_ref, cnt_cur,
           CAST(contrib_d AS DOUBLE) AS contrib,
           CAST(SUM(contrib_d) OVER () AS DOUBLE) AS psi_total
    FROM contrib
    """.format(
        contrib=_PSI_CONTRIB.format(
            pa=_PSI_P.format(c="c.cnt_ref", t="tot.t_ref"),
            pb=_PSI_P.format(c="c.cnt_cur", t="tot.t_cur"),
        )
    ),
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report between two cohorts —
    the go/no-go screen a production pipeline runs before publishing a
    refreshed dataset (and a training pipeline runs between corpus
    snapshots): bin the metric, compare Laplace-smoothed bin shares,
    PSI = sum((p_ref - p_cur) * ln(p_ref / p_cur)). Cohorts here are
    the deterministic user_id parity split; bins are a fixed-width
    8-bucket grid over `value` with an open top bucket and an 8-row
    spine so structurally-empty bins still contribute (smoothing makes
    them finite). The per-bin contribution is rounded to 5 and summed
    as exact DECIMAL(18,5) (surfaced as DOUBLE — DuckDB's decimal
    lands in pandas as float64, Spark's as object, so the dtype-
    strict compare needs a common type), making psi_total order-free
    and identical on both engines.

    Scale shape: ONE pass over events — bin+cohort derived in
    codegen, a single combinable 16-cell aggregate, then all
    remaining arithmetic happens on the 8-row result (spine join,
    totals, window sum are driver-trivial). At 100 TB this is a
    full-scan + one 16-row shuffle; nothing grows with data."""
    binned = load(spark, sf_dir, "events").select(
        F.least(F.floor(F.col("value") / F.lit(70.0)).cast("int"), F.lit(7)).alias(
            "bin"
        ),
        (F.col("user_id") % 2).alias("cohort"),
    )
    counted = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("cohort") == 0, 1)).alias("raw_ref"),
        F.sum(F.when(F.col("cohort") == 1, 1)).alias("raw_cur"),
    )
    spine = spark.range(8).select(F.col("id").cast("int").alias("bin"))
    cells = spine.join(counted, "bin", "left").select(
        "bin",
        F.coalesce("raw_ref", F.lit(0)).alias("cnt_ref"),
        F.coalesce("raw_cur", F.lit(0)).alias("cnt_cur"),
    )
    # cohort totals as window sums over the 8-row cells — keeps the
    # whole query ONE lineage (a separate agg branch re-executed the
    # events scan: measured 2 scans in the audited plan)
    w = Window.partitionBy()
    contrib = cells.withColumn("t_ref", F.sum("cnt_ref").over(w)).withColumn(
        "t_cur", F.sum("cnt_cur").over(w)
    ).select(
        "bin",
        "cnt_ref",
        "cnt_cur",
        F.expr(
            _PSI_CONTRIB.format(
                pa=_PSI_P.format(c="cnt_ref", t="t_ref"),
                pb=_PSI_P.format(c="cnt_cur", t="t_cur"),
            )
        )
        .cast("decimal(18,5)")
        .alias("contrib_d"),
    )
    return contrib.select(
        "bin",
        "cnt_ref",
        "cnt_cur",
        F.col("contrib_d").cast("double").alias("contrib"),
        F.sum("contrib_d").over(w).cast("double").alias("psi_total"),
    )


# ---------------------------------------------------------------------------
# agg_cms_heavy_hitters — deterministic Count-Min sketch frequency estimates
# ---------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_PROBES = 8  # probe keys 0..7

# Column index of key {k} in hash row {d}: 12 bits of md5 ("row:key")
# folded to the 1024-column width. Integer-exact on both engines; only
# the hex->int spelling differs (conv vs '0x' cast), values identical.
_CMS_COL_SPARK = (
    "(CAST(conv(substr(md5(CAST({d} AS STRING) || ':' || "
    "CAST({k} AS STRING)), 1, 3), 16, 10) AS INT) % 1024)"
)
_CMS_COL_DUCK = (
    "(CAST('0x' || substr(md5(CAST({d} AS VARCHAR) || ':' || "
    "CAST({k} AS VARCHAR)), 1, 3) AS INT) % 1024)"
)


@query(
    "agg_cms_heavy_hitters",
    oracle="""
    WITH cells AS (
      SELECT d.d, {col_k} AS c, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events e CROSS JOIN range(4) d(d)
      GROUP BY d.d, {col_k}
    ), probes AS (
      SELECT p.probe_id, d.d, {col_p} AS c
      FROM range(8) p(probe_id) CROSS JOIN range(4) d(d)
    ), est AS (
      SELECT p.probe_id, MIN(COALESCE(cl.cnt, 0)) AS est_cnt
      FROM probes p LEFT JOIN cells cl ON cl.d = p.d AND cl.c = p.c
      GROUP BY p.probe_id
    ), truth AS (
      SELECT user_id AS probe_id, CAST(COUNT(*) AS BIGINT) AS true_cnt
      FROM events WHERE user_id BETWEEN 0 AND 7 GROUP BY user_id
    )
    SELECT e.probe_id, e.est_cnt, COALESCE(t.true_cnt, 0) AS true_cnt
    FROM est e LEFT JOIN truth t ON t.probe_id = e.probe_id
    """.format(
        col_k=_CMS_COL_DUCK.format(d="d.d", k="e.user_id"),
        col_p=_CMS_COL_DUCK.format(d="d.d", k="p.probe_id"),
    ),
)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation, deterministic across
    engines (the second mergeable sketch next to
    `agg_hll_deterministic`): 4 hash rows x 1024 columns, cell index
    from md5("row:key") — every count is exact integer arithmetic, so
    Spark and DuckDB agree bit-for-bit with no FP hazard at all. The
    probe report returns est >= true by construction (CM never
    under-counts); the oracle rebuilds the identical sketch in SQL.

    Scale shape — frequency estimates over an unbounded key space
    with BOUNDED state: the scan fans each row to its 4 (row, col)
    cells map-side (array explode, in-stage), and the ONLY data
    shuffle is the combinable groupBy over <= 4096 cells — fixed
    size at any input scale, vs an exact per-key count whose state
    grows with distinct keys. Cells are MERGEABLE (sum-combine across
    partitions/shards/days). Probe estimation joins the 8x4 probe
    spine against the 4096-cell sketch — both broadcast-trivial. The
    exact `truth` branch scans only the probe keys (predicate pushed
    to parquet) to report estimation error; a production sketch
    would skip it."""
    events = load(spark, sf_dir, "events")
    cell_structs = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.expr(_CMS_COL_SPARK.format(d=d, k="user_id")).alias("c"),
            )
            for d in range(_CMS_D)
        ]
    )
    cells = (
        events.select(F.explode(cell_structs).alias("x"))
        .groupBy(F.col("x.d").alias("d"), F.col("x.c").alias("c"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    probes = (
        spark.range(_CMS_PROBES)
        .select(F.col("id").alias("probe_id"))
        .select(
            "probe_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            F.expr(
                                _CMS_COL_SPARK.format(d=d, k="probe_id")
                            ).alias("c"),
                        )
                        for d in range(_CMS_D)
                    ]
                )
            ).alias("x"),
        )
        .select("probe_id", F.col("x.d").alias("d"), F.col("x.c").alias("c"))
    )
    est = (
        probes.join(cells, ["d", "c"], "left")
        .select("probe_id", F.coalesce("cnt", F.lit(0)).alias("cell_cnt"))
        .groupBy("probe_id")
        .agg(F.min("cell_cnt").alias("est_cnt"))
    )
    truth = (
        events.where(F.col("user_id").between(0, 7))
        .groupBy(F.col("user_id").alias("probe_id"))
        .agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    return est.join(truth, "probe_id", "left").select(
        "probe_id",
        "est_cnt",
        F.coalesce("true_cnt", F.lit(0)).alias("true_cnt"),
    )
