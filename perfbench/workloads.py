"""The benchmark's three workloads, driven through the engine's public
functions only.

Each workload builds its inputs from the seed (``prepare``), runs one
full pass per ``run_pass`` call, and checks every pass against an
oracle computed outside the timed region (``expect`` / ``check``).
Timed passes end in a full-materialization sink (``noop`` or a table
write); ``count()`` is refused inside them by ``no_count``.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import time

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from georaster_spark import cells, datagen
from georaster_spark.operators import raster, spatial_join
from georaster_spark.plans import lineage
from georaster_spark.sources import icetable

RES = 11  # cover resolution of the flagship join
FLAGSHIP_DOCS = 4_000_000
TASKS_PER_CORE = 8
CHECKPOINT_DOCS = 100_000
CHECKPOINT_PARTS = 16
WINDOW_TILES = (2, 1)  # raster window (across, down), in 512-px DTM tiles
SEED_SPAN = 1_000  # seeds map onto this many disjoint document ranges


class CountInTimedPass(RuntimeError):
    pass


@contextlib.contextmanager
def no_count():
    """Refuse ``DataFrame.count()`` for the duration: a count lets
    Spark prune every column (and whole joins) that does not feed it."""

    def refuse(self):
        raise CountInTimedPass("count() used inside a timed pass")

    saved = ClassicDataFrame.count
    ClassicDataFrame.count = refuse
    try:
        yield
    finally:
        ClassicDataFrame.count = saved


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def observed(df: DataFrame, aggs: list, name: str) -> tuple[DataFrame, Observation]:
    """Attach aggregates that Spark computes while the sink consumes
    ``df``, so a timed pass checks its own output at no extra scan."""
    obs = Observation(name)
    return df.observe(obs, *aggs), obs


def fingerprint_aggs(cols: list[str]):
    """Order-independent content fingerprint: rows and xor of row hashes."""
    return [F.count(F.lit(1)).alias("rows"), F.bit_xor(F.xxhash64(*cols)).alias("xor")]


def fingerprint(df: DataFrame, cols: list[str]) -> dict:
    return df.agg(*fingerprint_aggs(cols)).first().asDict()


def doc_offset(seed: int, n: int) -> int:
    """First document index of the seed's range. The geocode is a
    function of the index, so each seed places a different set of
    points; ranges stay below the int64-safe bound of the geocode."""
    return (seed % SEED_SPAN) * n


def documents(spark, n: int, lo: int, partitions: int | None = None) -> DataFrame:
    """Generated documents with their geocode: index ``lo + i`` for the
    ``i``-th generated page."""
    idx = F.col("doc_seq") + F.lit(lo)
    lon, lat = datagen.geocode_cols(idx)
    return datagen.documents_df(spark, n, partitions).select(
        "*",
        idx.alias("doc_id"),
        lon.alias("lon"),
        lat.alias("lat"),
        F.length("text").alias("n_chars"),
    )


def oracle_poly_stats(n: int, lo: int, threads: int) -> pd.DataFrame:
    """Per-polygon (n_docs, n_langs, sum_chars) of the flagship
    pipeline, evaluated by DuckDB from ``datagen.geocode_sql`` and
    ``polygon_rects_sql`` over the same index range."""
    lon, lat = datagen.geocode_sql(f"(range + {lo})")
    langs = ", ".join(f"'{l}'" for l in datagen.LANGS)
    # the exact rectangle tests run only against rectangles sharing the
    # point's 0.1-degree bucket, which turns the theta join into a hash join
    bucket = "CAST(floor({} * 10) AS BIGINT)"
    sql = f"""
    WITH d AS (
      SELECT range AS i, {lon} AS lon, {lat} AS lat,
             list_element([{langs}], CAST(range % 5 + 1 AS INTEGER)) AS lang,
             length(printf('doc %d cell %d', range, range % 1024)) AS n_chars
      FROM range({n})),
    bx AS (
      SELECT *, unnest(range({bucket.format("xmin")}, {bucket.format("xmax")} + 1)) AS bx
      FROM {datagen.polygon_rects_sql()}),
    rects AS (
      SELECT *, unnest(range({bucket.format("ymin")}, {bucket.format("ymax")} + 1)) AS by FROM bx),
    hits AS (
      SELECT d.i, rects.poly_id, d.lang, d.n_chars
      FROM d JOIN rects
        ON {bucket.format("d.lon")} = rects.bx AND {bucket.format("d.lat")} = rects.by
       AND d.lon > rects.xmin AND d.lon < rects.xmax
       AND d.lat > rects.ymin AND d.lat < rects.ymax)
    SELECT poly_id, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM hits GROUP BY poly_id ORDER BY poly_id
    """
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {threads}")
        return con.execute(sql).df()
    finally:
        con.close()


def _expect_equal(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got}, expected {want}"]


class Workload:
    name = ""
    rows_unit = ""
    nominal_pass_s = 1.0  # one timed pass on a 4-core host; sets the pass count
    # untimed passes first: class loading, and JIT compilation that keeps
    # speeding passes up for several passes
    warm_passes = 1

    def __init__(self, spark, seed: int, work_dir: str, tracer, cores: int):
        self.spark, self.seed, self.work_dir, self.tracer, self.cores = (
            spark, seed, work_dir, tracer, cores,
        )
        self.expected: dict = {}

    def bind(self, spark) -> None:
        """(Re)build the inputs on ``spark``."""
        self.spark = spark
        self.prepare()

    def prepare(self) -> None: ...
    def run_pass(self, k: int) -> dict: ...
    def expect(self) -> None: ...
    def check(self, rec: dict) -> list[str]: ...
    def probe(self, k: int) -> None:
        """Extra layer calls made in a traced pass only."""

    def rows(self) -> int: ...

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def _observations(self, rec: dict, pending: dict[str, Observation]) -> None:
        rec["observed"] = {k: o.get for k, o in pending.items()}


POLY_STATS = ["poly_id", "n_docs", "n_langs", "sum_chars"]


class PipFlagship(Workload):
    """Geocoded documents -> cover join + ray-cast -> per-polygon
    aggregate; nothing is written."""

    name = "pip_flagship"
    rows_unit = "docs"
    nominal_pass_s = 3.4
    warm_passes = 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n = FLAGSHIP_DOCS
        self.lo = doc_offset(self.seed, FLAGSHIP_DOCS)
        self.polys = datagen.polygons()

    def rows(self) -> int:
        return self.n

    def prepare(self) -> None:
        # many small tasks per core: a core that a neighbour slows down
        # takes fewer of them instead of holding up the stage
        self.docs = documents(self.spark, self.n, self.lo, TASKS_PER_CORE * self.cores)

    def pipeline(self, docs: DataFrame) -> DataFrame:
        return (
            spatial_join.pip_join(docs, self.polys, RES)
            .groupBy("poly_id")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.countDistinct("lang").alias("n_langs"),
                F.sum("n_chars").alias("sum_chars"),
            )
        )

    def run_pass(self, k: int) -> dict:
        rec: dict = {}
        t0 = time.perf_counter()
        with self.span("spatial_join.pip_join"):
            df, obs = observed(self.pipeline(self.docs), fingerprint_aggs(POLY_STATS), f"flag{k}")
            noop(df)
        rec["wall_s"] = time.perf_counter() - t0
        self._observations(rec, {"poly_stats": obs})
        return rec

    def probe(self, k: int) -> None:
        with self.span("datagen.gen"):
            noop(self.docs)
        with self.span("cells.encode"):
            noop(self.docs.withColumn("cell", cells.cell_encode_cols(F.col("lon"), F.col("lat"), RES)))
        cover_probe(self)

    def expect(self) -> None:
        want = oracle_poly_stats(self.n, self.lo, self.cores)
        self.expected["poly_stats"] = fingerprint(
            self.spark.createDataFrame(
                want, "poly_id string, n_docs long, n_langs long, sum_chars long"
            ),
            POLY_STATS,
        )

    def check(self, rec: dict) -> list[str]:
        return _expect_equal(
            "per-polygon stats vs DuckDB", rec["observed"]["poly_stats"], self.expected["poly_stats"]
        )


def cover_probe(wl: Workload) -> None:
    """An eager ``cover_df`` call, the cover's shape from ``build_cover``
    and the cover join's candidate count: the equi-join alone, since in
    the pipeline the ray-cast runs as the join's own condition."""
    with wl.span("spatial_join.cover_build") as s:
        cover_df, _ = spatial_join.cover_df(wl.spark, wl.polys, RES)
    cover = spatial_join.build_cover(wl.polys, RES)
    cells_df = wl.docs.withColumn("cell", cells.cell_encode_cols(F.col("lon"), F.col("lat"), RES))
    obs = Observation("candidates")
    with wl.span("spatial_join.candidates") as c:
        noop(cells_df.join(F.broadcast(cover_df), "cell").observe(obs, F.count(F.lit(1)).alias("rows")))
    if s is not None:
        s["cover_rows"] = len(cover)
        s["cover_full"] = sum(1 for _, _, full in cover if full)
        c["candidates"] = obs.get["rows"]


def dtm_np(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """NumPy twin of ``datagen.dtm_value_cols``."""
    v = 600 + (x * 73 + y * 179) % 1400
    v = np.where((x == datagen.DTM_PEAK_X) & (y == datagen.DTM_PEAK_Y), datagen.DTM_PEAK_V, v)
    return np.where((x == 0) & (y == 0), datagen.DTM_ORIGIN_V, v).astype(np.float64)


# Raster outputs are integer-valued, so plain sums are exact in float64
# whatever the summation order: Spark's observed sums and NumPy's must
# agree bit for bit. Each value column is summed alone and weighted by a
# pixel-position key, so a value at the wrong pixel changes the sums.
_KEY_MOD = 65521


def pixel_sums_aggs(vals: list[str]):
    key = (F.col("x").cast("long") * 8192 + F.col("y")) % _KEY_MOD + 1
    aggs = [F.count(F.lit(1)).alias("rows"), F.sum(key.cast("double")).alias("key")]
    for v in vals:
        aggs += [F.sum(v).cast("double").alias(v), F.sum(F.col(v) * key).alias(f"{v}_key")]
    return aggs


def pixel_sums_np(x: np.ndarray, y: np.ndarray, vals: dict[str, np.ndarray]) -> dict:
    key = ((x.astype(np.int64) * 8192 + y) % _KEY_MOD + 1).astype(np.float64).ravel()
    out = {"rows": int(key.size), "key": float(key.sum())}
    for name, v in vals.items():
        v = v.astype(np.float64).ravel()
        out[name] = float(v.sum())
        out[f"{name}_key"] = float((v * key).sum())
    return out


# golden anchors of the reference DTM: (name, x, y, value)
ANCHORS = (
    ("origin", 0, 0, datagen.DTM_ORIGIN_V),
    ("peak", datagen.DTM_PEAK_X, datagen.DTM_PEAK_Y, datagen.DTM_PEAK_V),
)


def anchor_aggs(anchors) -> list:
    """The value at each anchor pixel, as the output holds it."""
    return [
        F.max(F.when((F.col("x") == px) & (F.col("y") == py), F.col("value")))
        .cast("double")
        .alias(f"{what}_anchor")
        for what, px, py, _ in anchors
    ]


class RasterTiling(Workload):
    """A tile-aligned DTM window -> tiles -> decode, overview, window
    read and 3x3 focal statistics."""

    name = "raster_tiling"
    rows_unit = "pixels"
    nominal_pass_s = 4.0
    warm_passes = 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        g = datagen.DTM_GEOM
        rng = random.Random(self.seed)
        tiles_x, tiles_y = WINDOW_TILES
        full = g.width // g.tile_w  # whole tiles only: no padded edge
        self.w, self.h = tiles_x * g.tile_w, tiles_y * g.tile_h
        self.x0 = rng.randrange(full - tiles_x + 1) * g.tile_w
        self.y0 = rng.randrange(full - tiles_y + 1) * g.tile_h
        # window read: the centred half-size sub-window
        self.win = (self.x0 + self.w // 4, self.y0 + self.h // 4, self.w // 2, self.h // 2)
        self.anchors = [
            a for a in ANCHORS
            if self.x0 <= a[1] < self.x0 + self.w and self.y0 <= a[2] < self.y0 + self.h
        ]

    def rows(self) -> int:
        return self.w * self.h

    def window_pixels(self) -> DataFrame:
        """The window as ``dtm_pixels_df`` rows, generated from
        ``spark.range`` through ``datagen.dtm_value_cols``."""
        df = self.spark.range(0, self.w * self.h, 1, max(8, self.cores * 2))
        x = (F.lit(self.x0) + F.col("id") % self.w).cast("int")
        y = (F.lit(self.y0) + (F.col("id") / self.w).cast("long")).cast("int")
        return df.select(
            F.lit("dtm5000").alias("raster_id"),
            F.lit(0).alias("image_idx"),
            F.lit(0).alias("band"),
            x.alias("x"),
            y.alias("y"),
            datagen.dtm_value_cols(x, y).cast("double").alias("value"),
        )

    def prepare(self) -> None:
        self.pixels = self.window_pixels().persist()
        noop(self.pixels)

    def run_pass(self, k: int) -> dict:
        g = datagen.DTM_GEOM
        rec: dict = {}
        obs: dict[str, Observation] = {}
        t0 = time.perf_counter()
        with self.span("raster.pixels_to_tiles"):
            tiles = raster.pixels_to_tiles(self.pixels, g).persist()
            noop(tiles)
        try:
            with self.span("raster.tiles_to_pixels"):
                df, obs["decode"] = observed(
                    raster.tiles_to_pixels(tiles, g),
                    pixel_sums_aggs(["value"]) + anchor_aggs(self.anchors),
                    f"dec{k}",
                )
                noop(df)
            with self.span("raster.build_overview"):
                df, obs["overview"] = observed(
                    raster.build_overview(self.pixels, 2, "max"), pixel_sums_aggs(["value"]), f"ovr{k}"
                )
                noop(df)
            with self.span("raster.window_from_tiles"):
                df, obs["window"] = observed(
                    raster.window_from_tiles(tiles, g, *self.win), pixel_sums_aggs(["value"]), f"win{k}"
                )
                noop(df)
            with self.span("raster.focal_stats_halo"):
                df, obs["focal"] = observed(
                    raster.focal_stats_halo(self.pixels), pixel_sums_aggs(list(FOCAL_COLS)), f"foc{k}"
                )
                noop(df)
            rec["wall_s"] = time.perf_counter() - t0
        finally:
            tiles.unpersist()
        self._observations(rec, obs)
        return rec

    def probe(self, k: int) -> None:
        with self.span("datagen.gen"):
            noop(self.window_pixels())

    def expect(self) -> None:
        w, h, x0, y0 = self.w, self.h, self.x0, self.y0
        ys, xs = np.mgrid[y0 : y0 + h, x0 : x0 + w]
        v = dtm_np(xs, ys)
        e = self.expected
        # the decode must give back exactly the input pixels
        e["decode"] = pixel_sums_np(xs, ys, {"value": v})
        ov = v.reshape(h // 2, 2, w // 2, 2).max(axis=(1, 3))
        e["overview"] = pixel_sums_np(xs[::2, ::2] // 2, ys[::2, ::2] // 2, {"value": ov})
        wx, wy, ww, wh = self.win
        sl = (slice(wy - y0, wy - y0 + wh), slice(wx - x0, wx - x0 + ww))
        e["window"] = pixel_sums_np(xs[sl], ys[sl], {"value": v[sl]})
        e["focal"] = pixel_sums_np(xs, ys, focal_np(v))
        # golden anchors, read from the decoded pixels where the window
        # holds them
        e["decode"].update({f"{what}_anchor": float(want) for what, _, _, want in self.anchors})
        # and from the engine's DTM expression itself, so every seed checks them
        got = self.spark.range(1).select(
            *[datagen.dtm_value_cols(F.lit(px), F.lit(py)).alias(what) for what, px, py, _ in ANCHORS]
        ).first()
        self.anchor_errors = [
            err for what, _, _, want in ANCHORS for err in _expect_equal(f"{what} anchor", got[what], want)
        ]

    def check(self, rec: dict) -> list[str]:
        errs = []
        for key in ("decode", "overview", "window", "focal"):
            errs += _expect_equal(key, rec["observed"][key], self.expected[key])
        return errs + self.anchor_errors


FOCAL_COLS = ("n_nb", "sum_v", "min_v", "max_v")


def focal_np(v: np.ndarray) -> dict[str, np.ndarray]:
    """3x3 count/sum/min/max where neighbours outside ``v`` are absent."""
    h, w = v.shape
    V = np.zeros((h + 2, w + 2))
    M = np.zeros((h + 2, w + 2), dtype=bool)
    V[1:-1, 1:-1], M[1:-1, 1:-1] = v, True
    out = {
        "n_nb": np.zeros((h, w)),
        "sum_v": np.zeros((h, w)),
        "min_v": np.full((h, w), np.inf),
        "max_v": np.full((h, w), -np.inf),
    }
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            Vw = V[1 + dy : h + 1 + dy, 1 + dx : w + 1 + dx]
            Mw = M[1 + dy : h + 1 + dy, 1 + dx : w + 1 + dx]
            out["n_nb"] += Mw
            out["sum_v"] += np.where(Mw, Vw, 0.0)
            out["min_v"] = np.minimum(out["min_v"], np.where(Mw, Vw, np.inf))
            out["max_v"] = np.maximum(out["max_v"], np.where(Mw, Vw, -np.inf))
    return out


class PipCheckpoint(Workload):
    """The flagship job's shape: a checkpointed enrich stage, a
    checkpointed join rollup, a no-op resume, then the text audit."""

    name = "pip_checkpoint"
    rows_unit = "docs"
    nominal_pass_s = 5.0
    warm_passes = 1

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n = CHECKPOINT_DOCS
        # the head of the flagship's range for the same seed
        self.lo = doc_offset(self.seed, FLAGSHIP_DOCS)
        self.polys = datagen.polygons()

    def rows(self) -> int:
        return self.n

    def prepare(self) -> None:
        self.docs = documents(self.spark, self.n, self.lo).withColumn(
            "part", F.pmod(F.xxhash64("doc_id"), F.lit(CHECKPOINT_PARTS))
        )

    def _paths(self, k: int) -> tuple[str, str]:
        base = os.path.join(self.work_dir, "checkpoint", f"pass{k}")
        return os.path.join(base, "docs_enriched"), os.path.join(base, "poly_stats")

    def _enrich(self, enrich_path: str) -> dict:
        return lineage.run_stage(
            self.spark,
            "enrich",
            self.docs,
            lambda df: df.withColumn("cell", cells.cell_encode_cols(F.col("lon"), F.col("lat"), RES)),
            part_col="part",
            output_path=enrich_path,
            checksum_cols=["doc_id", "text"],
        )

    def run_pass(self, k: int) -> dict:
        enrich_path, join_path = self._paths(k)
        shutil.rmtree(os.path.dirname(enrich_path), ignore_errors=True)
        rec: dict = {}
        t0 = time.perf_counter()
        with self.span("lineage.enrich"):
            rec["enrich"] = self._enrich(enrich_path)
        with self.span("lineage.join"):
            enriched = icetable.read_table(self.spark, enrich_path)
            rec["join"] = lineage.run_stage(
                self.spark,
                "join",
                enriched,
                lambda df: spatial_join.pip_join(df, self.polys, RES)
                .groupBy("part", "poly_id")
                .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars")),
                part_col="part",
                output_path=join_path,
            )
        rec["wall_s"] = time.perf_counter() - t0
        t1 = time.perf_counter()
        with self.span("lineage.resume"):
            rec["resume"] = self._enrich(enrich_path)
        rec["resume_s"] = time.perf_counter() - t1
        rec["stored_bytes"] = sum(
            os.path.getsize(os.path.join(d, f))
            for p in (enrich_path, join_path)
            for d, _, fs in os.walk(p)
            for f in fs
        )
        return rec

    def probe(self, k: int) -> None:
        enrich_path, join_path = self._paths(k)
        with self.span("lineage.checksum"):
            noop(lineage.content_checksum(self.docs, "part", ["doc_id", "text"]))
        with self.span("icetable.manifest_read"):
            icetable.committed_chain(enrich_path)
            icetable.committed_chain(join_path)
        with self.span("icetable.read_table"):
            noop(icetable.read_table(self.spark, enrich_path))
        cover_probe(self)

    def expect(self) -> None:
        want = oracle_poly_stats(self.n, self.lo, self.cores)
        self.expected["rollup"] = {
            r.poly_id: (int(r.n_docs), int(r.sum_chars)) for r in want.itertuples()
        }

    def check(self, rec: dict) -> list[str]:
        """Checks one pass's committed tables, then removes them."""
        enrich_path, join_path = self._paths(rec["k"])
        try:
            errs = _expect_equal("enrich parts", rec["enrich"]["pending"], CHECKPOINT_PARTS)
            errs += _expect_equal("resume pending", rec["resume"]["pending"], 0)
            with self.span("lineage.verify"):
                ok = lineage.verify_text_identity(
                    self.docs, icetable.read_table(self.spark, enrich_path), "part", ["doc_id", "text"]
                )
            errs += _expect_equal("text identity", ok, True)
            parts = len(lineage.lineage_rows(enrich_path, "enrich"))
            errs += _expect_equal("committed enrich parts", parts, CHECKPOINT_PARTS)
            rollup = (
                icetable.read_table(self.spark, join_path)
                .groupBy("poly_id")
                .agg(F.sum("n_docs").alias("n"), F.sum("sum_chars").alias("c"))
                .collect()
            )
            got = {r["poly_id"]: (int(r["n"]), int(r["c"])) for r in rollup}
            errs += _expect_equal("rollup vs per-polygon counts", got, self.expected["rollup"])
            rec["parts_committed"] = parts
            manifests = [icetable.read_manifest(p) for p in (enrich_path, join_path)]
            rec["table_files"] = sum(len(m["files"]) for m in manifests)
            rec["table_bytes"] = sum(f["bytes"] for m in manifests for f in m["files"])
            return errs
        finally:
            shutil.rmtree(os.path.dirname(enrich_path), ignore_errors=True)


WORKLOADS = {w.name: w for w in (PipFlagship, RasterTiling, PipCheckpoint)}
