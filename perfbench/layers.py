"""Per-layer metrics of one traced pass, named after the engine's
modules. Span durations time the benchmark's calls into a layer;
operator and task figures are Spark's own, read from the event log of
the executions that ran inside the pass."""

from __future__ import annotations

# the layer call whose stages ``spark.task.<key>.*`` describe
TASK_SPANS = {
    "pip_join": "spatial_join.pip_join",
    "to_tiles": "raster.pixels_to_tiles",
    "decode": "raster.tiles_to_pixels",
    "overview": "raster.build_overview",
    "window": "raster.window_from_tiles",
    "focal": "raster.focal_stats_halo",
    "enrich": "lineage.enrich",
    "join": "lineage.join",
    "resume": "lineage.resume",
}


def pass_layers(wl, tracer, ev, rec: dict) -> dict[str, tuple[float, str]]:
    root, pass_span = rec["span"], rec["pass_span"]
    in_pass = tracer.subtree(pass_span)
    ops = ev.operators(in_pass)

    def under(name: str) -> set[int]:
        return {i for s in tracer.find(name, under=root) for i in tracer.subtree(s["id"])}

    def secs(name: str) -> tuple[float, str]:
        return tracer.seconds(name, under=root), "s"

    def op(key: str, unit: str, spans: set[int] | None = None) -> tuple[float, str]:
        src = ops if spans is None else ev.operators(spans)
        return float(src.get(key, 0.0)), unit

    def ratio(a: float, b: float) -> tuple[float, str]:
        return (a / b if b else 0.0), "ratio"

    cover = tracer.find("spatial_join.cover_build", under=root)
    cover_rows = float(sum(s.get("cover_rows", 0) for s in cover))
    cover_full = float(sum(s.get("cover_full", 0) for s in cover))
    probe = tracer.find("spatial_join.candidates", under=root)
    candidates = float(sum(s.get("candidates", 0) for s in probe))
    probe_spans = under("spatial_join.candidates")

    def bcast(key: str, unit: str) -> tuple[float, str]:
        # a cached, adaptively re-planned join (the checkpoint's) logs its
        # broadcast against no plan node: fall back to the probe's broadcast
        return op(key, unit)[0] or op(key, unit, probe_spans)[0], unit
    # the ray-cast is the join's condition unless a Filter sits on the join
    matches = op("cover.filter_rows", "count")[0] or op("cover.join_rows", "count")[0]
    focal = under("raster.focal_stats_halo")
    is_raster = wl.name == "raster_tiling"

    def raster_op(key: str, unit: str) -> tuple[float, str]:
        return op(key, unit) if is_raster else (0.0, unit)

    tasks = {}
    for key, name in TASK_SPANS.items():
        for stat, v in ev.tasks(under(name)).items():
            tasks[f"spark.task.{key}.{stat}"] = (v, "ratio" if stat == "skew" else "ms")
    return tasks | {
        "datagen.gen_s": secs("datagen.gen"),
        "cells.encode_s": secs("cells.encode"),
        "spatial_join.cover_build_s": secs("spatial_join.cover_build"),
        "spatial_join.cover_rows": (cover_rows, "count"),
        "spatial_join.cover_full_ratio": ratio(cover_full, cover_rows),
        "spatial_join.broadcast_bytes": bcast("cover.broadcast_bytes", "B"),
        "spatial_join.broadcast_build_ms": bcast("cover.broadcast_build_ms", "ms"),
        "spatial_join.candidates": (candidates, "count"),
        "spatial_join.candidates_per_doc": ratio(candidates, wl.rows() if candidates else 0),
        "spatial_join.matches": (matches, "count"),
        "spatial_join.match_ratio": ratio(matches, candidates),
        "spatial_join.probe_ms": op("cover.probe_ms", "ms"),
        "spark.aggregate.build_ms": op("aggregate.build_ms", "ms"),
        "spark.aggregate.peak_bytes": op("aggregate.peak_bytes", "B"),
        "spark.aggregate.spill_bytes": op("aggregate.spill_bytes", "B"),
        "spark.exchange.bytes_written": op("exchange.bytes_written", "B"),
        "spark.exchange.records_written": op("exchange.records_written", "count"),
        "spark.exchange.write_ms": op("exchange.write_ms", "ms"),
        "spark.exchange.fetch_wait_ms": op("exchange.fetch_wait_ms", "ms"),
        "spark.gc_ms": (ev.gc_ms(in_pass), "ms"),
        "raster.to_tiles_s": secs("raster.pixels_to_tiles"),
        "raster.decode_s": secs("raster.tiles_to_pixels"),
        "raster.overview_s": secs("raster.build_overview"),
        "raster.window_s": secs("raster.window_from_tiles"),
        "raster.focal_s": secs("raster.focal_stats_halo"),
        "raster.python_run_ms": raster_op("python.run_ms", "ms"),
        "raster.python_init_ms": raster_op("python.init_ms", "ms"),
        "raster.arrow_sent_bytes": raster_op("python.sent_bytes", "B"),
        "raster.arrow_returned_bytes": raster_op("python.returned_bytes", "B"),
        "raster.halo_dup_ratio": ratio(
            op("exchange.records_written", "count", focal)[0], wl.rows() if focal else 0
        ),
        "lineage.enrich_s": secs("lineage.enrich"),
        "lineage.join_s": secs("lineage.join"),
        "lineage.resume_s": secs("lineage.resume"),
        "lineage.checksum_s": secs("lineage.checksum"),
        "lineage.verify_s": secs("lineage.verify"),
        "lineage.parts_committed": (float(rec.get("parts_committed", 0)), "count"),
        "icetable.bytes_written": (float(rec.get("table_bytes", 0)), "B"),
        "icetable.files_written": (float(rec.get("table_files", 0)), "count"),
        "icetable.manifest_read_s": secs("icetable.manifest_read"),
        "icetable.read_table_s": secs("icetable.read_table"),
    }
