"""sf1 stress bench: one decade above the driver's sf0.1.

Two questions the per-round sf0.1 bench can't answer:

1. **Scaling exponents** — do the top-cost operators' runtimes hold
   their sf0.1 ordering one decade up, or is there a constant-factor
   cliff (codegen JIT, broadcast sizes, shuffle spill)? Runs
   simhash_pairs / ann_ivf / knn_table / pip_join_hot at sf0.1 and at
   a synthesized sf1 (10x rows, same distributions) and reports
   t(sf1)/t(sf0.1) — linear work ⇒ ~10x, log-linear slightly above.

2. **Explicit salting vs the AQE skew-join backstop** — on a
   degenerately hot join key (50% of probe rows on ONE key), per-task
   run-time histograms from the Spark event log for (a) plain
   sort-merge join with AQE off, (b) plain join with AQE skew-split
   on (thresholds lowered to engage at MB scale — disclosed; the
   defaults are tuned for 256MB partitions), (c) salted_equi_join.
   The p99/max per-task times show where each strategy puts the hot
   key's work.

Synthesized inputs are deterministic (hash-derived words, seeded
Gaussian embeddings, same vocab/length/lang/source shape as the
driver's documents table) and cached write-once under /tmp.

    python tools/bench_sf1.py            # writes BENCH/SF1_STRESS.md
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.1"
SF1_DIR = "/tmp/georaster_sf1_v1"
N_DOCS, N_VECS = 50_000, 20_000
STRESS = [
    "simhash_pairs",
    "ann_ivf",
    "knn_table",
    "pip_join_hot",
    "exact_substr",
    "paragraph_dedup",
    "semdedup",
    # crawl-side controls (final session): linear-plan candidates —
    # robots is broadcast-join+agg, frontier one host shuffle,
    # anchor_topk two shuffles on a 3|V| edge list, main_content
    # zero-shuffle, crawl_delta one full-outer SMJ over 2 snapshots
    "robots_filter",
    "crawl_frontier",
    "anchor_topk",
    "main_content",
    "crawl_delta",
]

_VOCAB = (
    "batch part spark line column order small sort fast value scan query "
    "agg table hash merge group filter stream join vector customer key "
    "slow big the a lineitem supplier region"
).split()


def _synth_sf1(spark) -> None:
    """documents.parquet (50k) + embeddings.parquet (20k) with the
    driver-table shapes; write-once + atomic rename."""
    if os.path.exists(SF1_DIR):
        return
    from pyspark.sql import functions as F

    tmp = f"{SF1_DIR}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    i = F.col("id")
    n_words = (F.pmod(F.xxhash64(i, F.lit(1)), F.lit(89)) + 8).cast("int")
    vocab = F.array(*[F.lit(w) for w in _VOCAB])
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_words - 1),
            lambda k: F.element_at(
                vocab, (F.pmod(F.xxhash64(i, k, F.lit(2)), F.lit(len(_VOCAB))) + 1).cast("int")
            ),
        ),
        " ",
    )
    langs = F.array(*[F.lit(x) for x in ["en", "de", "fr", "es", "zh"]])
    docs = spark.range(0, N_DOCS, 1, 32).select(
        i.alias("doc_id"),
        text.alias("text"),
        F.element_at(langs, (i % 5 + 1).cast("int")).alias("lang"),
        F.format_string("src%d", (i % 20).cast("int")).alias("source"),
        F.length(text).cast("long").alias("n_chars"),
    )
    docs.coalesce(8).write.parquet(os.path.join(tmp, "documents.parquet"))

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(42)
    X = rng.normal(size=(N_VECS, 64))
    X = (X / np.linalg.norm(X, axis=1, keepdims=True)).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), type=pa.int64()),
            "embedding": pa.array(list(X), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_VECS), type=pa.int32()),
        }
    )
    pq.write_table(tbl, os.path.join(tmp, "embeddings.parquet", ))
    try:
        os.replace(tmp, SF1_DIR)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def _time_queries(spark, Q) -> list[dict]:
    rows = []
    for name in STRESS:
        fn = Q.QUERIES[name]
        per_sf = {}
        for label, sf_dir in (("sf0.1", SF01), ("sf1", SF1_DIR)):
            best, n = None, 0
            for _ in range(2):
                t0 = time.time()
                n = fn(spark, sf_dir).count()
                dt = time.time() - t0
                best = dt if best is None or dt < best else best
                spark.catalog.clearCache()
            per_sf[label] = (round(best, 2), n)
            print(f"# {name} @ {label}: {n} rows in {best:.2f}s", file=sys.stderr)
        ratio = per_sf["sf1"][0] / max(per_sf["sf0.1"][0], 1e-9)
        rows.append(
            {
                "query": name,
                "t01": per_sf["sf0.1"][0],
                "rows01": per_sf["sf0.1"][1],
                "t1": per_sf["sf1"][0],
                "rows1": per_sf["sf1"][1],
                "ratio": round(ratio, 1),
            }
        )
    return rows


def _skew_variants(spark) -> list[dict]:
    """Hot-key join three ways; per-task times parsed from the event
    log afterwards (keyed by job group).

    The joined rows must carry real per-row work, or the SMJ sort of
    the (uniform) build side dominates and every task costs the same
    regardless of skew — counting join output is nearly free in
    codegen. Each joined row is therefore hashed (xxhash64) into a
    checksum aggregate: the hot key's 50M output rows cost ~50M
    hashes in ONE task unless something splits them."""
    from pyspark.sql import functions as F

    from georaster_spark.operators.spatial_join import salted_equi_join

    sc = spark.sparkContext
    # probe: 500k rows, 50% on ONE key (k=0); 2500 cold keys x 100 rows
    left = spark.range(0, 500_000, 1, 32).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.col("id") % 5000)
        .alias("k"),
    )
    # build: 200 rows per key, generated narrow (no cartesian). Hot-key
    # output = 250k x 200 = 50M rows; cold output = 50M over ~31 tasks.
    right = spark.range(0, 5000 * 200, 1, 32).select(
        (F.col("id") % 5000).alias("k"), (F.col("id") / 5000).cast("long").alias("j")
    )
    # per-joined-row work, ANSI-safe under sum (pmod bounds the terms)
    work = F.sum(F.pmod(F.xxhash64("row_id", "j", "k"), F.lit(1_000_000))).alias("chk")
    conf = spark.conf
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    variants = []
    for group, desc, aqe, skew, salted in [
        ("skew_plain_noaqe", "plain SMJ, AQE off", "false", "false", False),
        ("skew_plain_aqe", "plain SMJ, AQE skew-split on", "true", "true", False),
        ("skew_salted", "salted (ALL keys, salt_k=16), AQE off", "false", "false", "all"),
        ("skew_targeted", "salted (hot key only, salt_k=16), AQE off", "false", "false", "hot"),
    ]:
        conf.set("spark.sql.adaptive.enabled", aqe)
        conf.set("spark.sql.adaptive.skewJoin.enabled", skew)
        if skew == "true":
            # AQE detects skew by MAP-OUTPUT bytes: the hot probe
            # partition here is a few MB vs ~100-300KB median, so the
            # byte thresholds are scaled down from the defaults (256MB,
            # factor 5 — tuned for cluster-scale partitions) to engage
            # at this input's size — disclosed in the report
            conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "3")
            conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m"
            )
            conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
        sc.setJobGroup(group, desc)
        t0 = time.time()
        if salted == "all":
            j = salted_equi_join(left, right, "k", salt_key="row_id", salt_k=16)
        elif salted == "hot":
            j = salted_equi_join(
                left, right, "k", salt_key="row_id", salt_k=16, hot_keys=[0]
            )
        else:
            j = left.join(right, "k")
        row = j.agg(F.count(F.lit(1)).alias("n"), work).collect()[0]
        wall = time.time() - t0
        sc.setJobGroup("idle", "idle")
        variants.append(
            {
                "group": group,
                "desc": desc,
                "rows": row["n"],
                "chk": row["chk"],
                "wall": round(wall, 2),
            }
        )
        print(f"# {group}: {row['n']} rows chk={row['chk']} in {wall:.2f}s", file=sys.stderr)
    assert len({(v["rows"], v["chk"]) for v in variants}) == 1, variants
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "5")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256m")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    return variants


def _parse_event_log(log_dir: str, groups: list[str]) -> dict[str, dict]:
    """Per-group per-task Executor Run Times of the heaviest stage."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    latest = max(files, key=os.path.getmtime)
    if os.path.isdir(latest):  # Spark 4 rolling (v2) layout
        parts = sorted(
            os.path.join(latest, n)
            for n in os.listdir(latest)
            if n.startswith("events_")
        )
    else:
        parts = [latest]

    def _lines():
        for p in parts:
            with open(p) as f:
                yield from f

    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = {}
    for line in _lines():
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g in groups:
                for si in ev.get("Stage Infos", []):
                    stage_group[si["Stage ID"]] = g
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            if sid in stage_group:
                tm = ev.get("Task Metrics") or {}
                ms = tm.get("Executor Run Time")
                srm = tm.get("Shuffle Read Metrics") or {}
                rd = (srm.get("Local Bytes Read") or 0) + (
                    srm.get("Remote Bytes Read") or 0
                )
                if ms is not None:
                    stage_tasks.setdefault(sid, []).append((ms, rd))
    out: dict[str, dict] = {}
    for g in groups:
        # JOIN stages = the group's stages reading shuffle bytes (they
        # consume the exchanges; scans read none). Merged across
        # stages so a targeted-salt plan (hot+cold join stages) is
        # measured over ALL its join tasks.
        times = sorted(
            ms
            for sid, rows in stage_tasks.items()
            if stage_group.get(sid) == g and sum(r for _, r in rows) > 0
            for ms, _ in rows
        )
        if times:
            arr = np.array(times)
            out[g] = {
                "n_tasks": len(arr),
                "p50_ms": int(np.percentile(arr, 50)),
                "p99_ms": int(np.percentile(arr, 99)),
                "max_ms": int(arr.max()),
                "sum_ms": int(arr.sum()),
            }
    return out


def main() -> None:
    from georaster_spark.session import get_spark, host_cores

    log_dir = "/tmp/georaster_sf1_eventlog"
    os.makedirs(log_dir, exist_ok=True)
    cores = host_cores()
    spark = get_spark(
        "bench_sf1",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        },
    )
    from georaster_spark import queries as Q

    load0 = round(os.getloadavg()[0], 1)
    _synth_sf1(spark)
    spark.range(64, numPartitions=32).mapInPandas(lambda it: it, "id long").count()

    stress = _time_queries(spark, Q)
    variants = _skew_variants(spark)
    load1 = round(os.getloadavg()[0], 1)
    spark.stop()  # flush the event log
    hist = _parse_event_log(log_dir, [v["group"] for v in variants])

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "SF1_STRESS.md",
    )
    lines = [
        "# sf1 stress: scaling exponents + skew-join evidence",
        "",
        f"Synth sf1 = {N_DOCS:,} docs / {N_VECS:,} vectors (10x sf0.1, same",
        f"distribution shape; tools/bench_sf1.py, deterministic). local[{cores}],",
        f"min-of-2 per cell. 1-min loadavg start/end: {load0} / {load1}",
        "(multi-tenant host).",
        "",
        "## Top-cost operators, one decade up",
        "",
        "| query | sf0.1 sec (rows) | sf1 sec (rows) | t(sf1)/t(sf0.1) |",
        "|---|---:|---:|---:|",
    ]
    for r in stress:
        lines.append(
            f"| {r['query']} | {r['t01']} ({r['rows01']:,}) "
            f"| {r['t1']} ({r['rows1']:,}) | {r['ratio']}x |"
        )
    lines += [
        "",
        "10x input with ~10x output ⇒ a linear-work plan reads ~10x or",
        "less (fixed overheads amortize); super-linear ratios flag a",
        "constant-factor cliff — UNLESS the output itself grows",
        "super-linearly. exact_substr is that case here: the synth",
        f"vocab is {len(_VOCAB)} words, so the density of word 5-grams",
        "shared by ≥2 docs RISES with corpus size and the span output",
        "grows ~22x for 10x docs; normalized per output row the plan is",
        "sub-linear (wall/row falls ~3x). The real-corpus regime (vocab",
        "≫ corpus overlap) is the sf0.1 column.",
        "",
        "## Hot-key join: explicit salting vs the AQE backstop",
        "",
        "50% of 500k probe rows on ONE key, 200 build rows per key —",
        "the hot key joins to 50M of 100M output rows, and every joined",
        "row is xxhash64-ed into a checksum so join output carries real",
        "per-row work (a bare count() is free in codegen and the build-",
        "side sort dominates uniformly, hiding the skew). Broadcast",
        f"disabled so the join actually shuffles ({cores} shuffle partitions);",
        "for the AQE variant the skew thresholds are scaled down to this",
        "input's bytes (hot map-output partition ~MBs vs defaults tuned",
        "for 256MB): factor=3, threshold=1m, advisory=256k — disclosed.",
        "Per-task Executor Run Time over the join stage(s) — every",
        "stage in the job group that reads shuffle bytes (the targeted",
        "plan splits into a hot and a cold join stage; both are",
        "counted) — from the event log:",
        "",
        "| variant | wall s | join tasks | p50 ms | p99 ms | max ms |",
        "|---|---:|---:|---:|---:|---:|",
    ]
    for v in variants:
        h = hist.get(v["group"], {})
        lines.append(
            f"| {v['desc']} | {v['wall']} | {h.get('n_tasks', '-')} "
            f"| {h.get('p50_ms', '-')} | {h.get('p99_ms', '-')} | {h.get('max_ms', '-')} |"
        )
    lines += [
        "",
        "Reading: with AQE off, the hot key is one straggler task",
        "(max >> p50). AQE's skew split divides that partition at",
        "runtime. Salting EVERY key divides it at plan time but pays",
        "salt_k x the whole build side's shuffle — measurably the worst",
        "strategy here, which is why salted_equi_join(hot_keys=...)",
        "exists: replicate build rows for the hot keys ONLY (the",
        "pip_join_hot pattern). Targeted salting is the form that holds",
        "at 100 TB and in stages AQE cannot re-plan (stateful stages,",
        "custom kernels). All variants return identical",
        "(count, checksum) — asserted in the harness.",
        "",
    ]
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")
    for line in lines:
        print(line)


if __name__ == "__main__":
    main()
