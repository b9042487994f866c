"""The three workloads: their inputs, set-up and operations.

Each workload object exposes ``setup(ctx)`` (inputs, load and one-time
table properties — untimed by the measurement loop but part of
``setup_s``) and ``run_pass(ctx)`` (one pass over its operation set, every
operation timed, forced and checked).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from . import inputs

class Op:
    """One timed operation: ``build()`` is the public engine call (lazy for
    DataFrame results), ``layer`` names the engine module it exercises."""

    def __init__(self, key: str, layer: str, build):
        self.key = key
        self.layer = layer
        self.build = build


# ---------------------------------------------------------------------------
# batch workloads
# ---------------------------------------------------------------------------


class BatchWorkload:
    """``jvm_analytics`` / ``udf_joins``: a fixed set of query keys over the
    sf corpus, each forced to completion and compared to its expected
    count."""

    def __init__(self, name: str):
        self.name = name

    def _frames(self, ctx, docs_path, evgeo_path, sf_dir):
        from geomesa_spark.operators import spatial_join as sj

        docs = ctx.spark.read.parquet(docs_path)
        ev = ctx.spark.read.parquet(evgeo_path).select("event_id", "lon", "lat")
        pts = sj.extract_geo_points(docs).select("doc_id", "lon", "lat")
        return docs, pts, ev, sf_dir

    def ops(self, ctx, frames) -> list[Op]:
        from geomesa_spark import entry_queries as eq
        from geomesa_spark.operators import knn as knn_op
        from geomesa_spark.operators import spatial_join as sj
        from geomesa_spark.operators import tiling
        from geomesa_spark.sources import corpus

        spark = ctx.spark
        docs, pts, ev, sf_dir = frames
        polys = corpus.fixture_polygons()
        res = self.auto_res
        if self.name == "jvm_analytics":
            return [
                Op("spatial_join_docs", "spatial_join",
                   lambda: sj.spatial_join_documents(docs, polys, "intersects", res=res)),
                Op("spatial_join_contains", "spatial_join",
                   lambda: sj.spatial_join_documents(docs, polys, "contains", res=res)),
                Op("tile_pyramid", "tiling", lambda: tiling.tile_pyramid(pts, [5, 8, 11])),
                Op("gi_star", "autocorr", lambda: eq.q_gi_star(spark, sf_dir)),
                Op("ripley_k", "pointpattern", lambda: eq.q_ripley_k(spark, sf_dir)),
            ]
        return [
            Op("grid_join_50km", "spatial_join",
               lambda: sj.spatial_join_grid(pts, ev, res=8, dist_m=50_000.0, unique_ids=True)),
            Op("spacetime_join", "spatial_join", lambda: eq.q_spacetime_join(spark, sf_dir)),
            Op("xz2_poly_join", "xz2", lambda: eq.q_xz2_poly_point_join(spark, sf_dir)),
            Op("knn_10q", "knn",
               lambda: knn_op.knn(pts.withColumnRenamed("doc_id", "event_id"),
                                  corpus.fixture_knn_queries(), res=7)),
        ]

    def setup(self, ctx) -> None:
        sf, seed, run = ctx.sf, ctx.seed, ctx.run_dir
        with ctx.phase("sources.synth"):
            docs_path = inputs.permuted(
                inputs.canonical(ctx.cache_dir, "documents_spans", sf),
                os.path.join(run, "documents_spans.parquet"), seed)
            evgeo_path = inputs.permuted(
                inputs.canonical(ctx.cache_dir, "events_geo", sf),
                os.path.join(run, "events_geo.parquet"), seed + 1)
            sf_dir = os.path.join(run, inputs.sf_dir_name(sf))
            os.makedirs(sf_dir)
            self.events = inputs.synth_events(int(1_000_000 * sf), seed)
            pq.write_table(self.events, os.path.join(sf_dir, "events.parquet"))
        with ctx.phase("sources.load"):
            self.frames = self._frames(ctx, docs_path, evgeo_path, sf_dir)
            self.frames[0].count()
            self.frames[2].count()
        with ctx.phase("session.warm"):
            from geomesa_spark.operators import spatial_join as sj

            # the adaptive index resolution is a one-time table property.
            # No warm-up pass: a batch job meets a cold session, so the
            # timed pass includes worker boot and code generation.
            self.auto_res = (sj.choose_document_resolution(self.frames[0])
                             if self.name == "jvm_analytics" else None)
        self.expected = dict(inputs.PINNED[sf])

    def finish(self, ctx) -> None:
        """Expected values that need the seeded inputs: computed after the
        timed passes so they add nothing to any metric."""
        ev = self.events
        self.expected["spacetime_join"] = inputs.spacetime_pairs(
            ev.column("event_id").to_numpy(),
            ev.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64))

    def run_pass(self, ctx) -> list[dict]:
        return [ctx.run_op(op) for op in self.ops(ctx, self.frames)]


# ---------------------------------------------------------------------------
# index ingest + query
# ---------------------------------------------------------------------------

#: hive prefix of ``track_id`` in the attribute layout: "trk-000".."trk-001"
#: → 20 directories of 100 tracks each at sf0.1
ATTR_PREFIX = 7
#: operations per pass; every APPEND_EVERY-th is an append
STREAM_OPS = 8
APPEND_EVERY = 4


class IndexWorkload:
    """``index_ingest_query``: bulk ingest of the seeded tracks into the Z3
    layout and the ``track_id`` attribute layout, then a closed loop of
    bbox / bbox+time / bbox+attribute queries with appends mixed in.  One
    pass = bulk ingest into fresh layouts + the seeded operation stream."""

    def setup(self, ctx) -> None:
        from geomesa_spark.sources import corpus

        run = ctx.run_dir
        with ctx.phase("sources.synth"):
            fake_dir = os.path.join(run, inputs.sf_dir_name(ctx.sf))
            self.bulk = corpus.synth_events_geo(fake_dir, seed=ctx.seed)
            self.bulk_path = os.path.join(run, "events_geo.parquet")
            pq.write_table(self.bulk, self.bulk_path, row_group_size=inputs.ROW_GROUP)
            self.stream = inputs.index_stream(self.bulk, ctx.seed, STREAM_OPS, APPEND_EVERY)
        with ctx.phase("sources.load"):
            self.bulk_df = ctx.spark.read.parquet(self.bulk_path)
            self.bulk_df.count()
        self.n_appends = 0

    def _paths(self, root):
        return os.path.join(root, "z3"), os.path.join(root, "attr")

    def _ingest(self, ctx, df, root, mode="overwrite") -> None:
        from geomesa_spark.plans import planner

        z3, attr = self._paths(root)
        with ctx.tracer.span("planner.write_partitioned"):
            planner.write_partitioned(df, z3, res=10, mode=mode, time_col="ts")
        with ctx.tracer.span("planner.write_attr_partitioned"):
            planner.write_attr_partitioned(df, attr, "track_id", prefix_len=ATTR_PREFIX, mode=mode)

    def _query(self, ctx, q, root):
        """(lazy DataFrame, strategy time in ms) for one stream query."""
        from geomesa_spark.plans import planner

        z3, attr = self._paths(root)
        wkt = inputs.box_wkt(q["box"])
        if q["kind"] == "bbox_attr":
            t0 = time.perf_counter()
            with ctx.tracer.span("planner.choose_scan_strategy"):
                strategy = planner.choose_scan_strategy(
                    z3, attr, wkt, eq=q["track"], prefix_len=ATTR_PREFIX)["strategy"]
            strategy_ms = (time.perf_counter() - t0) * 1e3
            return planner.query_dual_indexed(
                ctx.spark, z3, attr, wkt, "track_id", eq=q["track"],
                prefix_len=ATTR_PREFIX, strategy=strategy), strategy_ms
        if q["kind"] == "bbox_time":
            return planner.query(ctx.spark, z3, wkt, "intersects", time_col="ts",
                                 time_range=q["time"]), None
        return planner.query(ctx.spark, z3, wkt, "intersects"), None

    def _layout_stats(self, root) -> tuple[int, int, int]:
        """(parquet files, parquet bytes, leaf partition dirs) under root."""
        files = size = leaves = 0
        for dirpath, dirnames, filenames in os.walk(root):
            parts = [f for f in filenames if f.endswith(".parquet")]
            files += len(parts)
            size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in parts)
            if parts and not dirnames:
                leaves += 1
        return files, size, leaves

    def _timed_ingest(self, ctx, df, rows: int, mode: str) -> dict:
        before = self._layout_stats(ctx.layout_dir)
        rec = ctx.run_op(Op(f"ingest_{mode}", "planner",
                            lambda: self._ingest(ctx, df, ctx.layout_dir, mode)),
                         value=rows, sample=False)
        after = self._layout_stats(ctx.layout_dir)
        rec["files_written"] = after[0] - before[0]
        rec["bytes_written"] = after[1] - before[1]
        return rec

    def run_pass(self, ctx) -> list[dict]:
        oracle = inputs.IndexOracle()
        recs = [self._timed_ingest(ctx, self.bulk_df, self.bulk.num_rows, "overwrite")]
        oracle.add(self.bulk)
        for q in self.stream:
            if q["kind"] == "append":
                batch = inputs.append_batch(ctx.cache_dir, ctx.seed, self.n_appends)
                path = os.path.join(ctx.run_dir, f"append_{self.n_appends}.parquet")
                pq.write_table(batch, path)
                self.n_appends += 1
                recs.append(self._timed_ingest(ctx, ctx.spark.read.parquet(path),
                                               batch.num_rows, "append"))
                oracle.add(batch)
                continue
            z3, attr = self._paths(ctx.layout_dir)
            parts_total = self._layout_stats(attr if q["kind"] == "bbox_attr" else z3)[2]
            rec = ctx.run_op(Op(f"q_{q['kind']}", "planner",
                                lambda q=q: self._query(ctx, q, ctx.layout_dir)),
                             expected=oracle.count(q), query=True)
            rec["partitions_total"] = parts_total
            recs.append(rec)
        return recs
