"""Physical-plan audit: capture ``explain('formatted')`` for the
scale-critical queries and check the properties that decide whether
the plan survives a 100x scale-up. Writes BENCH/PLANS.md and exits
non-zero on violations.

Checked invariants:
- flagship pip_join: polygon cover index is BROADCAST (the big doc
  side never shuffles before the ray-cast);
- flagship + text queries: column pruning reaches the parquet scan
  (the BINARY ``html`` column is never read unless asked);
- tpch_q1: the shipdate filter is PUSHED to the parquet scan;
- revenue_join: both dimension joins are broadcast (no shuffle of
  orders);
- asof_join: ZERO join operators (union + window trick: one shuffle);
- media decode: no Exchange touches the blob column (narrow kernel).

    python tools/plan_audit.py
"""

from __future__ import annotations

import io
import os
import sys
import re
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def n_nodes(plan: str, op: str) -> int:
    """Count physical nodes by their '(N) Op' detail headers — each
    operator appears once there (the tree rendering would double-count)."""
    return len(re.findall(rf"^\(\d+\) {op}\b", plan, re.M))


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def normalize_plan(plan: str) -> str:
    """Plan text with run-specific tokens removed, so the written
    audit diffs only when a plan changes: expression ids (``#123L``),
    lambda variable suffixes (``x_660``), JVM object hashes, exchange
    ``plan_id``s, RDD ids and call sites, and snapshot-table file
    names (commit timestamp, writer uuid) under the temp dir."""
    plan = re.sub(r"#\d+L?", "", plan)
    plan = re.sub(r"\b(lambda \w+?)_\d+\b", r"\1", plan)
    plan = re.sub(r"@[0-9a-f]{4,}\b", "", plan)
    plan = re.sub(r",? ?\[plan_id=\d+\]", "", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD", plan)
    plan = re.sub(r" at [^\s,]+:\d+", "", plan)
    plan = re.sub(r"snap-\d+-[0-9a-f]+", "snap-*", plan)
    plan = re.sub(r"part-\d+-[0-9a-f-]{36}-c\d+", "part-*", plan)
    return plan.replace("file:" + tempfile.gettempdir(), "file:<tmp>")


def main() -> int:
    from georaster_spark import queries as Q
    from georaster_spark.operators.multimodal import decode_image_features, with_media
    from georaster_spark.session import get_spark

    spark = get_spark("plan_audit", cores=4, shuffle_partitions=4)

    checks: list[tuple[str, str, bool]] = []  # (query, invariant, ok)
    plans: dict[str, str] = {}

    def check(name: str, invariant: str, ok: bool):
        checks.append((name, invariant, ok))

    # flagship: broadcast cover join + html never scanned
    flagship = Q.flagship(spark, SF)
    p = plans["flagship"] = explain_str(flagship)
    check("flagship", "cover index joined via BroadcastHashJoin", "BroadcastHashJoin" in p)
    check("flagship", "documents scan prunes the BINARY html column", "html" not in p)

    # tpch_q1: predicate pushdown to the parquet scan
    p = plans["tpch_q1"] = explain_str(Q.q_tpch_q1(spark, SF))
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    check(
        "tpch_q1",
        "l_shipdate filter pushed to parquet scan",
        any("l_shipdate" in l and "[]" not in l for l in pushed),
    )

    # revenue_join: both dims broadcast — the orders fact never
    # shuffles for the join
    p = plans["revenue_join"] = explain_str(Q.q_revenue_join(spark, SF))
    check(
        "revenue_join",
        "2 broadcast joins (customer, nation), no sort-merge join",
        n_nodes(p, "BroadcastHashJoin") == 2 and "SortMergeJoin" not in p,
    )

    # asof: union+window trick means no join operator at all
    p = plans["asof_join"] = explain_str(Q.q_asof_join(spark, SF))
    check("asof_join", "zero join nodes (union + last-ignorenulls window)", "Join" not in p)

    # media decode over the raw table: blobs flow scan->kernel with no
    # Exchange in between (narrow stage)
    d = with_media(spark.read.parquet(f"{SF}/documents.parquet"))
    p = plans["media_decode"] = explain_str(decode_image_features(d))
    check("media_decode", "no Exchange before the Arrow kernel (blobs never shuffle)", "Exchange" not in p)

    # lossy-VP8 media pair: same zero-shuffle contract end-to-end
    from georaster_spark.operators.multimodal import (
        decode_vp8_planes,
        with_vp8_media,
    )

    dv = with_vp8_media(
        spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    )
    p = plans["media_vp8_decode"] = explain_str(decode_vp8_planes(dv))
    check(
        "media_vp8_decode",
        "no Exchange around the VP8 encode/decode kernels (blobs never shuffle)",
        "Exchange" not in p,
    )

    # MP3 frame-parse pair: same contract
    from georaster_spark.operators.multimodal import (
        decode_audio_features,
        with_mp3_media,
    )

    dm = with_mp3_media(
        spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    )
    p = plans["media_mp3_meta"] = explain_str(decode_audio_features(dm))
    check(
        "media_mp3_meta",
        "no Exchange around the MP3 build/parse kernels (blobs never shuffle)",
        "Exchange" not in p,
    )

    # raster_ingest: the two-stage ingestion plan — no Exchange
    # between the header kernel and the decode kernel (chunk rows
    # flow narrow), the small metadata side broadcast, and exactly
    # one aggregation shuffle (the per-raster groupBy)
    p = plans["raster_ingest"] = explain_str(Q.q_raster_ingest(spark, SF))
    kernels = sorted(
        int(m.group(1)) for m in re.finditer(r"^\((\d+)\) MapInPandas", p, re.M)
    )
    check(
        "raster_ingest",
        "three Arrow kernels and NO driver-side file opens: chunk "
        "header walk, chunk decode, and metadata registration all run "
        "as executor-side MapInPandas (the only LocalTableScans are "
        "the tiny path-string lists)",
        len(kernels) == 3,
    )
    check(
        "raster_ingest",
        "header and decode kernels are ADJACENT (no Exchange between: "
        "chunk rows flow narrow from parse to decode)",
        any(b - a == 1 for a, b in zip(kernels, kernels[1:])),
    )
    check("raster_ingest", "metadata side joined via BroadcastHashJoin", "BroadcastHashJoin" in p)
    check(
        "raster_ingest",
        "exactly three shuffle Exchanges: two tiny path-string spreads "
        "and the per-raster groupBy (blobs shuffle in none)",
        n_nodes(p, "Exchange") == 3,
    )

    # pmtiles_ingest: directory walk and tile decode are adjacent
    # Arrow kernels — tile blobs stay inside their partition, the only
    # Exchange is the tiny path-string spread
    p = plans["pmtiles_ingest"] = explain_str(Q.q_pmtiles_ingest(spark, SF))
    pmt_kernels = sorted(
        int(m.group(1)) for m in re.finditer(r"^\((\d+)\) MapInPandas", p, re.M)
    )
    check(
        "pmtiles_ingest",
        "entry and decode kernels ADJACENT (tile bytes never shuffle)",
        len(pmt_kernels) == 2 and pmt_kernels[1] - pmt_kernels[0] == 1,
    )
    check(
        "pmtiles_ingest",
        "single Exchange (the tiny path-string spread)",
        n_nodes(p, "Exchange") == 1,
    )

    # pmtiles_webp_ingest: identical shape over the mixed PNG/WebP
    # archive — format sniffing happens inside the decode kernel, so
    # adding a codec must not add a stage or shuffle
    p = plans["pmtiles_webp_ingest"] = explain_str(
        Q.q_pmtiles_webp_ingest(spark, SF)
    )
    webp_kernels = sorted(
        int(m.group(1)) for m in re.finditer(r"^\((\d+)\) MapInPandas", p, re.M)
    )
    check(
        "pmtiles_webp_ingest",
        "entry and decode kernels ADJACENT (tile bytes never shuffle; "
        "per-tile PNG/WebP dispatch is inside the kernel)",
        len(webp_kernels) == 2 and webp_kernels[1] - webp_kernels[0] == 1,
    )
    check(
        "pmtiles_webp_ingest",
        "single Exchange (the tiny path-string spread)",
        n_nodes(p, "Exchange") == 1,
    )

    # warc_ingest: two-stage crawl-shard read — split planning and
    # member parsing are both Arrow kernels; the ONLY shuffles carry
    # split/path descriptors (path, offset, length), never page bytes
    p = plans["warc_ingest"] = explain_str(Q.q_warc_ingest(spark, SF))
    warc_kernels = sorted(
        int(m.group(1)) for m in re.finditer(r"^\((\d+)\) MapInPandas", p, re.M)
    )
    check(
        "warc_ingest",
        "two Arrow kernels (CDX split planner + gzip-member parse), "
        "no driver-side file opens",
        len(warc_kernels) == 2,
    )
    warc_exchanges = [
        para
        for para in p.split("\n\n")
        if para.splitlines() and re.match(r"\(\d+\) Exchange", para.splitlines()[0].strip())
    ]
    check(
        "warc_ingest",
        "every Exchange carries only split descriptors — the payload "
        "column never shuffles",
        len(warc_exchanges) >= 1
        and all("payload" not in para for para in warc_exchanges),
    )

    # window_topk: exactly one shuffle (hash by o_custkey)
    p = plans["window_topk"] = explain_str(Q.q_window_topk(spark, SF))
    check("window_topk", "single Exchange for the window partition key", n_nodes(p, "Exchange") == 1)
    check("window_topk", "rank predicate pushed into WindowGroupLimit", n_nodes(p, "WindowGroupLimit") >= 1)

    # xyz_lookup: the generated tile side has no parquet scan of docs
    # columns beyond doc_id (pruning through the probe side)
    p = plans["xyz_lookup"] = explain_str(Q.q_xyz_lookup(spark, SF))
    check("xyz_lookup", "documents scan prunes text/html for the probe", "text" not in p and "html" not in p)

    # dwithin: the theta-join must have been rewritten away — cell
    # equi-join only, never a nested-loop
    p = plans["dwithin_pairs"] = explain_str(Q.q_dwithin_pairs(spark, SF))
    check("dwithin_pairs", "no BroadcastNestedLoopJoin (cell equi-join rewrite)", "NestedLoop" not in p)

    # interval_join: the ts-BETWEEN theta join must have been rewritten
    # into a bucket equi-join — a hash join on the bucket key, never a
    # nested-loop over the cross product
    p = plans["interval_join"] = explain_str(Q.q_interval_join(spark, SF))
    check(
        "interval_join",
        "no BroadcastNestedLoopJoin (bucketize-explode equi-join rewrite)",
        "NestedLoop" not in p and n_nodes(p, "BroadcastHashJoin") >= 1,
    )

    # focal_stats: the tile-halo stencil — exactly ONE Exchange (the
    # block-key groupBy feeding the Arrow kernel); the naive forms
    # this replaces are a 9x-volume shuffle or a range self-join
    p = plans["focal_stats"] = explain_str(Q.q_focal_stats(spark, SF))
    check(
        "focal_stats",
        "single Exchange (block-key groupBy) into the stencil kernel, no joins",
        n_nodes(p, "Exchange") == 1
        and n_nodes(p, "FlatMapGroupsInPandas") == 1
        and "Join" not in p,
    )

    # cms_topk: register build is partial-aggregated (map-side combine
    # to 2048 keys before the shuffle) and every join is broadcast —
    # the register table and probe set are tiny by construction
    p = plans["cms_topk"] = explain_str(Q.q_cms_topk(spark, SF))
    check(
        "cms_topk",
        "map-side partial_count register build; all joins broadcast "
        "(no sort-merge join of the big side)",
        "partial_count" in p and "SortMergeJoin" not in p
        and n_nodes(p, "BroadcastHashJoin") >= 1,
    )

    # bm25_score: tf build is the only big shuffle (term filter BEFORE
    # the exchange, map-side partial_count); stats/df sides broadcast
    p = plans["bm25_score"] = explain_str(Q.q_bm25_score(spark, SF))
    check(
        "bm25_score",
        "query-term filter precedes the tf shuffle (partial_count) and "
        "stats/df joins are all broadcast (no sort-merge join)",
        "partial_count" in p and "SortMergeJoin" not in p
        and n_nodes(p, "BroadcastHashJoin") >= 1,
    )

    # embedding_centroids: posexplode then ONE partial-aggregated
    # groupBy on (label, pos) — constant-size aggregate state
    p = plans["embedding_centroids"] = explain_str(Q.q_embedding_centroids(spark, SF))
    check(
        "embedding_centroids",
        "single Exchange with map-side partial aggregation, no joins",
        n_nodes(p, "Exchange") == 1 and "partial_" in p and "Join" not in p,
    )

    # hillshade: same halo-stencil shape as focal_stats — one block
    # Exchange into the gradient kernel, trig downstream in codegen
    p = plans["hillshade"] = explain_str(Q.q_hillshade(spark, SF))
    check(
        "hillshade",
        "single Exchange into the Horn kernel; slope/aspect trig is a "
        "JVM Project (no Python evaluator downstream of the kernel)",
        n_nodes(p, "Exchange") == 1
        and n_nodes(p, "FlatMapGroupsInPandas") == 1
        and "BatchEvalPython" not in p,
    )

    # slope_aspect: same halo-stencil shape as hillshade — one block
    # Exchange into the gradient kernel, slope/aspect trig in codegen
    p = plans["slope_aspect"] = explain_str(Q.q_slope_aspect(spark, SF))
    check(
        "slope_aspect",
        "single Exchange into the Horn kernel; slope/aspect trig is a "
        "JVM Project (no Python evaluator downstream of the kernel)",
        n_nodes(p, "Exchange") == 1
        and n_nodes(p, "FlatMapGroupsInPandas") == 1
        and "BatchEvalPython" not in p,
    )

    # exact_substr: the ExactSubstr rewrite — gram-flag side is
    # partial-aggregated then equi-joined (never a nested loop), and
    # the span merge + per-doc rollup REUSE the window's doc_id
    # Exchange: 4 HashAggregates with no Exchange between them
    p = plans["exact_substr"] = explain_str(Q.q_exact_substr(spark, SF))
    # tree block prints top-down: everything above the first Window
    # line is downstream of the window
    tree = p.split("\n\n")[0].splitlines()
    w_at = next(i for i, l in enumerate(tree) if "Window" in l)
    above = "\n".join(tree[:w_at])
    check(
        "exact_substr",
        "gram flags equi-joined (no NestedLoop); span merge and "
        "per-doc rollup reuse the window's doc_id partitioning "
        "(4 HashAggregates and no Exchange above the Window nodes); "
        "no Python",
        "NestedLoop" not in p
        and "BatchEvalPython" not in p
        and n_nodes(p, "Window") == 2
        and "Exchange" not in above
        and above.count("HashAggregate") == 4,
    )

    # url_dedup: regex canonicalization is ONE codegen projection;
    # the only shuffles are the two-phase distinct aggregate
    p = plans["url_dedup"] = explain_str(Q.q_url_dedup(spark, SF))
    check(
        "url_dedup",
        "canonicalization regexes evaluate in a JVM Project (no "
        "Python, no joins); exactly the 2 Exchanges of the two-phase "
        "count-distinct aggregate",
        "BatchEvalPython" not in p
        and "Join" not in p
        and n_nodes(p, "Exchange") == 2
        and "[?&](utm_" in p,
    )

    # weighted_sample: importance sampling is a pure filter projection
    # — zero shuffles, all hashing inside codegen
    p = plans["weighted_sample"] = explain_str(Q.q_weighted_sample(spark, SF))
    check(
        "weighted_sample",
        "zero Exchanges and no Python (codegen filter projection)",
        n_nodes(p, "Exchange") == 0 and "codegen id" in p
        and "BatchEvalPython" not in p,
    )

    # resample_bilinear: corner gather is a HASH equi-join (never a
    # nested loop) and the target grid generates executor-side (Range)
    p = plans["resample_bilinear"] = explain_str(Q.q_resample_bilinear(spark, SF))
    check(
        "resample_bilinear",
        "corner gather is a hash equi-join with map-side partial_sum; "
        "no nested-loop join; BOTH the source and the target grid "
        "generate from executor-side Range (2 Range nodes)",
        "NestedLoop" not in p and "partial_sum" in p
        and n_nodes(p, "Range") >= 2,
    )

    # cohort_retention: both shuffles keyed on user_id, partial agg
    # before each; no sort-merge blowup on the cohort re-join
    p = plans["cohort_retention"] = explain_str(Q.q_cohort_retention(spark, SF))
    check(
        "cohort_retention",
        "map-side partial aggregation present and the cohort re-join "
        "is a hash join (no nested loop)",
        "partial_" in p and "NestedLoop" not in p,
    )

    # decontaminate: the benchmark gram set broadcasts; the corpus
    # side's only shuffle is the per-doc overlap count
    p = plans["decontaminate"] = explain_str(Q.q_decontaminate(spark, SF))
    check(
        "decontaminate",
        "benchmark grams joined via BroadcastHashJoin with map-side "
        "partial_count on the overlap aggregate",
        n_nodes(p, "BroadcastHashJoin") >= 1 and "partial_count" in p
        and "SortMergeJoin" not in p,
    )

    # idw_grid: pure codegen map stage — zero Exchanges, zero joins,
    # no Python (the sample points are a literal broadcast array)
    p = plans["idw_grid"] = explain_str(Q.q_idw_grid(spark, SF))
    check(
        "idw_grid",
        "zero Exchanges and zero joins (literal-array aggregate in "
        "a codegen map stage)",
        n_nodes(p, "Exchange") == 0 and "Join" not in p
        and "BatchEvalPython" not in p,
    )

    # funnel_steps: the event_type filters reach the parquet scan and
    # every per-stage min is partially aggregated map-side
    p = plans["funnel_steps"] = explain_str(Q.q_funnel_steps(spark, SF))
    check(
        "funnel_steps",
        "event_type filter pushed to the parquet scan; map-side "
        "partial_min before each user_id shuffle",
        any(
            "event_type" in l and "[]" not in l
            for l in p.splitlines()
            if "PushedFilters" in l
        )
        and "partial_min" in p,
    )

    # pagerank: every iteration's contribution aggregate has a
    # map-side partial_sum (combine before the dst shuffle)
    p = plans["pagerank"] = explain_str(Q.q_pagerank(spark, SF))
    check(
        "pagerank",
        "map-side partial_sum on every iteration's contribution "
        "aggregate (3 iterations -> 3 partial_sum aggregates)",
        len(re.findall(r"partial_sum", p)) >= 3,
    )

    # ann_pq (IVF+PQ residual, r5 shape): the corpus-sized path is
    # shuffle-free AND join-free up to the ADC probe — pinned coarse
    # centroids are a folded literal (no 1-row crossJoins at all),
    # the encode is one Arrow kernel, ADC is an in-row aggregate
    # after the broadcast LUT-map join, and the candidate set
    # broadcasts ONTO the corpus for the re-rank. The only shuffles
    # left are the tiny per-query LUT groupBy and the two top-N
    # windows.
    p = plans["ann_pq"] = explain_str(Q.q_ann_pq(spark, SF))
    check(
        "ann_pq",
        "LUT build/probe/candidate/query joins are hash joins; zero "
        "nested-loop joins (pinned centroids folded as literals)",
        n_nodes(p, "BroadcastHashJoin") == 4
        and n_nodes(p, "SortMergeJoin") == 0
        and n_nodes(p, "BroadcastNestedLoopJoin") == 0,
    )
    check(
        "ann_pq",
        "corpus path shuffle-free: one Arrow encode, no corpus-scale "
        "Exchange — the only Exchanges are the per-query LUT groupBy "
        "and the two top-N windows",
        n_nodes(p, "Exchange") == 3 and n_nodes(p, "ArrowEvalPython") == 1,
    )

    # zonal stats: zone index broadcast; exactly one aggregate shuffle
    p = plans["zonal_stats"] = explain_str(Q.q_zonal_stats(spark, SF))
    check("zonal_stats", "zone index joined via BroadcastHashJoin", n_nodes(p, "BroadcastHashJoin") >= 1)
    check("zonal_stats", "single Exchange (the per-zone aggregate)", n_nodes(p, "Exchange") == 1)

    # table kNN: candidate generation is a broadcast probe, no BNLJ on
    # the fast path (the exact fallback's crossJoin is bounded by the
    # escape set)
    p = plans["knn_table"] = explain_str(Q.q_knn_table(spark, SF))
    check("knn_table", "candidate probe is a BroadcastHashJoin", n_nodes(p, "BroadcastHashJoin") >= 1)

    # ice_prune: manifest-stat file skipping — the scan must list
    # STRICTLY FEWER files than the snapshot holds, and the residual
    # date filter still reaches the parquet reader
    ice_df = Q.q_ice_prune(spark, SF)
    p = plans["ice_prune"] = explain_str(ice_df)
    from georaster_spark.sources import icetable as _ice

    import datetime as _dt
    import hashlib as _hl
    import tempfile as _tf

    _tbl = os.path.join(
        _tf.gettempdir(),
        "georaster_ice_prune_" + _hl.md5(f"{SF}|groups2".encode()).hexdigest()[:10],
    )
    _plan = _ice.plan_files(
        _tbl,
        [("o_date", ">=", _dt.date(1996, 1, 1)), ("o_date", "<", _dt.date(1997, 1, 1))],
    )
    check(
        "ice_prune",
        f"manifest stats pruned the scan to {len(_plan['kept'])} of "
        f"{_plan['total']} files before Spark listed any",
        0 < len(_plan["kept"]) < _plan["total"],
    )
    check(
        "ice_prune",
        f"two-level manifest read only {_plan['groups_read']} of "
        f"{_plan['groups_total']} stat groups (planning is O(groups))",
        0 < _plan["groups_read"] < _plan["groups_total"],
    )
    check(
        "ice_prune",
        "residual o_date filter pushed to the parquet scan",
        any("o_date" in l and "[]" not in l for l in p.splitlines() if "PushedFilters" in l),
    )

    # pii_scrub: a pure projection — regex count/redact runs inside
    # whole-stage codegen with no shuffle at all
    p = plans["pii_scrub"] = explain_str(Q.q_pii_scrub(spark, SF))
    check("pii_scrub", "zero Exchanges (pure map stage)", n_nodes(p, "Exchange") == 0)
    check(
        "pii_scrub",
        "regexps evaluate inside WholeStageCodegen (no Python in the hot path)",
        "codegen id" in p and "MapInPandas" not in p and "BatchEvalPython" not in p,
    )

    # repeated_ngrams: explode + two partial-aggregated groupBys —
    # exactly two Exchanges, both keyed on doc_id(+gram), and the
    # unused html blob never scanned
    p = plans["repeated_ngrams"] = explain_str(Q.q_repeated_ngrams(spark, SF))
    check(
        "repeated_ngrams",
        "exactly two Exchanges (gram count, per-doc rollup) with "
        "map-side partial_count before each",
        n_nodes(p, "Exchange") == 2 and "partial_count" in p,
    )
    check("repeated_ngrams", "documents scan prunes the html column", "html" not in p)

    # hll_registers: the approximate-distinct estimator must be ONE
    # tiny shuffle (4096 keys) with map-side partial max — the whole
    # point of sketching at 100 TB
    p = plans["hll_registers"] = explain_str(Q.q_hll_registers(spark, SF))
    check(
        "hll_registers",
        "single Exchange with map-side partial_max (register merge)",
        n_nodes(p, "Exchange") == 1 and "partial_max" in p,
    )

    # simhash_pairs adaptive routing: on a healthy corpus (the real
    # sf0.001 documents — census finds no over-cap bucket) the plan
    # must be the PLAIN (bi, bv) self-join with none of the chunk
    # machinery; on a degenerate corpus that trips the cap, the
    # self-join key must carry the chunk columns so no task reads
    # more than ~2*cap bucket rows
    from georaster_spark.operators.dedup import simhash_near_pairs

    def has_col(plan: str, col: str) -> bool:
        return re.search(rf"\b{col}#\d", plan) is not None

    p = plans["simhash_cold"] = explain_str(Q.q_simhash_pairs(spark, SF))
    check(
        "simhash_cold",
        "no over-cap bucket -> plain (bi, bv) self-join (no chunk "
        "columns in the plan)",
        not has_col(p, "ca") and not has_col(p, "ct") and not has_col(p, "cs"),
    )
    hot_docs = spark.createDataFrame(
        [(i, " ".join(f"w{k % 31}" for k in range(40))) for i in range(300)]
        + [(1000 + i, f"x{i} " * 40) for i in range(20)],
        "doc_id long, text string",
    )
    p = plans["simhash_hot"] = explain_str(
        simhash_near_pairs(hot_docs, max_hamming=4, bucket_cap=64)
    )
    check(
        "simhash_hot",
        "over-cap bucket -> chunked triangle join (chunk columns in "
        "the equi-key bound per-task input at ~2*cap rows)",
        has_col(p, "ca")
        and has_col(p, "ct")
        and has_col(p, "cs")
        and has_col(p, "cb"),
    )

    # semdedup adaptive routing (round 5, VERDICT r4 task 3): same
    # census-routed pair of plans as simhash — healthy corpus keeps
    # the plain bucket self-join, a degenerate cluster trips the cap
    # into the chunked triangle join
    from georaster_spark.operators.ann import _cents_df, semdedup

    p = plans["semdedup_cold"] = explain_str(Q.q_semdedup(spark, SF))
    check(
        "semdedup_cold",
        "no over-cap cluster -> plain bucket self-join (no chunk "
        "columns in the plan)",
        not has_col(p, "ca") and not has_col(p, "ct") and not has_col(p, "cs"),
    )
    hot_vecs = spark.createDataFrame(
        [(i, [1.0, i * 1e-4, 0.0, 0.0]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    p = plans["semdedup_hot"] = explain_str(
        semdedup(
            hot_vecs,
            _cents_df(spark, [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]),
            tau_e6=990000,
            bucket_cap=64,
        )
    )
    check(
        "semdedup_hot",
        "over-cap cluster -> chunked triangle join (chunk columns in "
        "the equi-key bound per-task input at ~2*cap rows)",
        has_col(p, "ca")
        and has_col(p, "ct")
        and has_col(p, "cs")
        and has_col(p, "cb"),
    )

    # crawl-side controls (final session): robots = broadcast rules
    # join + ONE aggregate shuffle; frontier = WindowGroupLimit rank
    # cap; main_content = zero-shuffle array algebra
    p = plans["robots_filter"] = explain_str(Q.q_robots_filter(spark, SF))
    check(
        "robots_filter",
        "rules joined via BroadcastHashJoin (URL side never shuffles "
        "for the join)",
        n_nodes(p, "BroadcastHashJoin") >= 1 and "SortMergeJoin" not in p,
    )
    check(
        "robots_filter",
        "ONE Exchange (the winner-pick aggregate) with partial "
        "map-side combine",
        n_nodes(p, "Exchange") == 1 and "partial_max" in p,
    )
    p = plans["crawl_frontier"] = explain_str(Q.q_crawl_frontier(spark, SF))
    check(
        "crawl_frontier",
        "per-host rank cap plans as WindowGroupLimit (per-task state "
        "= budget, not host URL count)",
        n_nodes(p, "WindowGroupLimit") >= 1,
    )
    check(
        "crawl_frontier",
        "single Exchange (the politeness hash shuffle on host)",
        n_nodes(p, "Exchange") == 1,
    )
    p = plans["main_content"] = explain_str(Q.q_main_content(spark, SF))
    check(
        "main_content",
        "zero Exchanges — boilerplate removal runs at scan speed "
        "(higher-order array algebra, no explode)",
        n_nodes(p, "Exchange") == 0,
    )
    p = plans["anchor_topk"] = explain_str(Q.q_anchor_topk(spark, SF))
    check(
        "anchor_topk",
        "per-target top-k is a WindowGroupLimit rank cap",
        n_nodes(p, "WindowGroupLimit") >= 1,
    )
    p = plans["crawl_delta"] = explain_str(Q.q_crawl_delta(spark, SF))
    check(
        "crawl_delta",
        "snapshot diff is ONE equi full-outer join on url (SMJ), "
        "no nested-loop join",
        n_nodes(p, "SortMergeJoin") == 1
        and "BroadcastNestedLoopJoin" not in p,
    )

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/PLANS.md", "w") as f:
        f.write("# Physical-plan audit (explain('formatted') invariants)\n\n")
        f.write("Run: `python tools/plan_audit.py` — regenerated per round.\n\n")
        f.write("| query | invariant | status |\n|---|---|---|\n")
        for name, inv, ok in checks:
            f.write(f"| {name} | {inv} | {'PASS' if ok else 'FAIL'} |\n")
        f.write("\n")
        for name, plan in plans.items():
            f.write(f"## {name}\n\n```\n{normalize_plan(plan).strip()}\n```\n\n")

    failed = [(n, i) for n, i, ok in checks if not ok]
    for n, i, ok in checks:
        print(f"{'PASS' if ok else 'FAIL'} {n}: {i}")
    if failed:
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
