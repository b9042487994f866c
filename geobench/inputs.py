"""Seeded benchmark inputs and the independent expected values they are
checked against.

Batch workloads (``jvm_analytics``, ``udf_joins``):
- ``documents_spans`` and the ``events_geo`` tracks hold the content of the
  engine's pinned sf corpus (``sources.corpus``, seed 42 / 44), written in a
  row order drawn from the workload seed.  Content fixed means the pinned
  counts in :data:`PINNED` gate every seed; the seed moves which rows share
  a row group, a file split and an Arrow batch.
- ``events`` (the table the entry queries read) is synthesised from the
  seed: ``event_id`` runs 0..n-1, so the lon/lat the queries derive from it
  are those of the sf test table (``TESTDATA.md``), while the timestamps
  are drawn from the seed.  Queries that read only lon/lat keep
  their pinned counts; ``spacetime_join`` reads the timestamps and is
  checked against :func:`spacetime_pairs`, a numpy computation.

Index workload (``index_ingest_query``): the bulk tracks, every append
batch and the query stream come from the seed, and each query result is
checked against numpy over the rows ingested so far.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DEFAULT_SEED = 42
ROW_GROUP = 16384

#: expected result counts per scale factor.  sf0.1 are the engine's
#: round-5 bench counts (``BENCH_r05.json``).  sf0.001 is the self-test's
#: scale: ``grid_join_50km`` and ``xz2_poly_join`` were confirmed by a brute
#: force numpy count, ``knn_10q`` is the sum of the fixture k's, and the
#: rest are the engine's own counts, kept as regression pins.
#: ``spacetime_join`` is absent: its expected count comes from
#: :func:`spacetime_pairs` on every run.
PINNED = {
    0.1: {
        "spatial_join_docs": 45957,
        "spatial_join_contains": 45954,
        "tile_pyramid": 198417,
        "gi_star": 3968,
        "ripley_k": 4,
        "knn_10q": 57,
        "grid_join_50km": 529171,
        "xz2_poly_join": 25589,
    },
    0.001: {
        "spatial_join_docs": 453,
        "spatial_join_contains": 450,
        "tile_pyramid": 3660,
        "gi_star": 974,
        "ripley_k": 0,
        "knn_10q": 57,
        "grid_join_50km": 26,
        "xz2_poly_join": 20,
    },
}


def sf_dir_name(sf: float) -> str:
    """Directory basename the engine's corpus module reads the scale from."""
    return f"sf{sf:g}"


def _write(table: pa.Table, path: str) -> str:
    tmp = f"{path}.{os.getpid()}.tmp"
    pq.write_table(table, tmp, row_group_size=ROW_GROUP)
    os.replace(tmp, path)
    return path


def canonical(cache_dir: str, name: str, sf: float) -> str:
    """Path of the engine-synthesised corpus table ``name`` at ``sf``,
    generated once per checkout (the corpus depends on ``sf`` only)."""
    from geomesa_spark.sources import corpus

    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"{name}_{sf_dir_name(sf)}.parquet")
    if not os.path.exists(path):
        fake_dir = os.path.join(cache_dir, sf_dir_name(sf))
        if name == "documents_spans":
            table = corpus.synth_documents_spans(corpus.n_docs_for(fake_dir))
        else:
            table = corpus.synth_events_geo(fake_dir)
        _write(table, path)
    return path


def permuted(src: str, dst: str, seed: int) -> str:
    """Copy ``src`` to ``dst`` with rows in a seed-drawn order."""
    table = pq.read_table(src)
    order = np.random.default_rng(seed).permutation(table.num_rows)
    return _write(table.take(pa.array(order)), dst)


def synth_events(n: int, seed: int) -> pa.Table:
    """The ``events`` columns the entry queries read: ids 0..n-1 and seeded
    timestamps (sorted, microsecond precision, over 30 days of January
    2024)."""
    rng = np.random.default_rng(seed)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n)) + t0
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
    })


# ---------------------------------------------------------------------------
# independent expected values
# ---------------------------------------------------------------------------

EARTH_RADIUS_M = 6371008.8


def _haversine_m(lon1, lat1, lon2, lat2):
    lon1, lat1, lon2, lat2 = map(np.radians, (lon1, lat1, lon2, lat2))
    h = (np.sin((lat2 - lat1) / 2) ** 2
         + np.cos(lat1) * np.cos(lat2) * np.sin((lon2 - lon1) / 2) ** 2)
    return 2 * EARTH_RADIUS_M * np.arcsin(np.minimum(np.sqrt(h), 1.0))


def spacetime_pairs(event_id: np.ndarray, ts_us: np.ndarray) -> int:
    """Pairs counted by the ``spacetime_join`` key: left ids ≡ 1 (mod 17),
    right ids ≡ 2 (mod 13), within 150 km and 48 h (whole seconds).  lon/lat
    follow the query's definition from ``event_id``."""
    lon = ((event_id * 9973) % 36000) / 100.0 - 180.0
    lat = ((event_id * 7919) % 17000) / 100.0 - 85.0
    sec = ts_us // 10**6
    a = np.nonzero(event_id % 17 == 1)[0]
    b = np.nonzero(event_id % 13 == 2)[0]
    b = b[np.argsort(sec[b], kind="stable")]
    b_sec = sec[b]
    window = 48 * 3600
    lo = np.searchsorted(b_sec, sec[a] - window, side="left")
    hi = np.searchsorted(b_sec, sec[a] + window, side="right")
    total = 0
    for i, l, h in zip(a, lo, hi):
        if h > l:
            d = _haversine_m(lon[i], lat[i], lon[b[l:h]], lat[b[l:h]])
            total += int(np.count_nonzero(d <= 150_000.0))
    return total


# ---------------------------------------------------------------------------
# index workload: appends and the query stream
# ---------------------------------------------------------------------------

T_BASE = np.datetime64("2026-01-01T00:00:00", "s")


def append_batch(cache_dir: str, seed: int, k: int) -> pa.Table:
    """The ``k``-th append: a small seeded set of tracks (about 2,000 rows,
    track ids shared with the bulk load) one week later per append, under
    event ids of its own."""
    from geomesa_spark.sources import corpus

    t = corpus.synth_events_geo(os.path.join(cache_dir, "sf0.001"), seed=seed * 1000 + k + 1)
    ids = np.char.mod(f"ap{k:03d}-%08d", np.arange(t.num_rows)).astype(object)
    ts = t.column("ts").to_numpy() + np.timedelta64(7 * (k + 1), "D")
    return t.set_column(0, "event_id", pa.array(ids, pa.string())).set_column(
        2, "ts", pa.array(ts, pa.timestamp("us"))
    )


class IndexOracle:
    """numpy mirror of every row ingested into the layouts so far."""

    def __init__(self):
        self.lon = np.empty(0)
        self.lat = np.empty(0)
        self.ts = np.empty(0, dtype="datetime64[us]")
        self.track = np.empty(0, dtype=object)

    def add(self, table: pa.Table) -> None:
        self.lon = np.concatenate([self.lon, table.column("lon").to_numpy()])
        self.lat = np.concatenate([self.lat, table.column("lat").to_numpy()])
        self.ts = np.concatenate([self.ts, table.column("ts").to_numpy().astype("datetime64[us]")])
        self.track = np.concatenate([self.track, np.asarray(table.column("track_id").to_pylist(), dtype=object)])

    def count(self, q: dict) -> int:
        x0, y0, x1, y1 = q["box"]
        m = (self.lon >= x0) & (self.lon <= x1) & (self.lat >= y0) & (self.lat <= y1)
        if q["kind"] == "bbox_time":
            t0, t1 = (np.datetime64(t.replace(" ", "T"), "us") for t in q["time"])
            m &= (self.ts >= t0) & (self.ts < t1)
        elif q["kind"] == "bbox_attr":
            m &= self.track == q["track"]
        return int(np.count_nonzero(m))


def box_wkt(box) -> str:
    x0, y0, x1, y1 = box
    return f"POLYGON(({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"


def index_stream(bulk: pa.Table, seed: int, n_ops: int, append_every: int) -> list[dict]:
    """Seeded closed-loop operation stream: every ``append_every``-th op is
    an append, the rest cycle through bbox, bbox+time and bbox+attribute
    queries.  Query squares run through a fixed log ladder of sides from
    0.5° to 40°, so selectivity spans orders of magnitude while each run
    meets the same mix of sizes; the seed places each square around a bulk
    point (results are mostly non-empty) and draws the time windows and
    tracks.  Corners are rounded to 4 decimals and kept off the ±180 / ±85
    clamps, so no point lies on a query edge."""
    rng = np.random.default_rng(seed + 7)
    lon = bulk.column("lon").to_numpy()
    lat = bulk.column("lat").to_numpy()
    track = bulk.column("track_id").to_pylist()
    n_queries = n_ops - n_ops // append_every
    # interleave small and large squares so neither end clusters in time
    ladder = 0.5 * 80.0 ** (np.arange(n_queries) / max(n_queries - 1, 1))
    order = np.ravel(np.column_stack([np.arange(n_queries // 2),
                                      np.arange(n_queries - 1, n_queries // 2 - 1, -1)]))
    sides = iter(ladder[order])
    ops: list[dict] = []
    for i in range(n_ops):
        if (i + 1) % append_every == 0:
            ops.append({"kind": "append"})
            continue
        kind = ["bbox", "bbox_time", "bbox_attr"][len(ops) % 3]
        j = int(rng.integers(0, len(lon)))
        half = next(sides) / 2
        x0 = round(max(lon[j] - half, -179.9) + 0.00005, 4)
        x1 = round(min(lon[j] + half, 179.9) + 0.00005, 4)
        y0 = round(max(lat[j] - half, -84.9) + 0.00005, 4)
        y1 = round(min(lat[j] + half, 84.9) + 0.00005, 4)
        q = {"kind": kind, "box": (x0, y0, x1, y1)}
        if kind == "bbox_time":
            start = int(rng.integers(0, 3 * 3600))
            length = int(rng.integers(600, 3 * 3600))
            q["time"] = tuple(
                str(T_BASE + np.timedelta64(s, "s")).replace("T", " ")
                for s in (start, start + length)
            )
        elif kind == "bbox_attr":
            q["track"] = track[j]
        ops.append(q)
    return ops
