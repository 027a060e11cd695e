"""End-to-end crawl pipeline demo — the WEB-CRAWL path through the
engine, chained on one SparkSession (the upstream twin of
``curation_pipeline.py``, which starts where this ends):

  1. WARC ingest        (CDX-split .warc.gz shards -> response pages;
                         text extracted from the HTTP payload bytes)
  2. robots gate        (RFC 9309 longest-match verdicts; disallowed
                         urls drop BEFORE any downstream work)
  3. politeness frontier (per-host priority ranking, budget-capped,
                          fetch slots spaced the host's crawl-delay)
  4. main-content pass  (tag-strip the payload body; asserts the
                         extracted text survives BYTE-IDENTICAL — the
                         north-rule invariant, checked in-pipeline)
  5. url canonical dedup (one shuffle on the canonical key)
  6. snapshot commit    (input_hint-shaped table in the Iceberg-style
                         layer, atomic pointer)

Run:  python examples/crawl_pipeline.py
"""

from __future__ import annotations

import json
import sys
import tempfile

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F  # noqa: E402

from georaster_spark.datagen import fixture_warc_paths  # noqa: E402
from georaster_spark.functions.web import canonical_url  # noqa: E402
from georaster_spark.operators.crawl import (  # noqa: E402
    crawl_frontier,
    robots_verdicts,
)
from georaster_spark.session import get_spark  # noqa: E402
from georaster_spark.sources import icetable  # noqa: E402
from georaster_spark.sources.warc import warc_records_df  # noqa: E402


def main() -> None:
    spark = get_spark("crawl_pipeline", cores=8, shuffle_partitions=8)

    # 1. WARC ingest: response records only, text from payload bytes
    recs = warc_records_df(spark, fixture_warc_paths(), split_bytes=16384)
    pages = recs.where(F.col("rec_type") == "response").select(
        "url",
        F.to_timestamp(F.from_unixtime(F.col("ts_s"))).alias("warc_ts"),
        F.col("payload").alias("html"),
        F.regexp_extract(
            F.col("payload").cast("string"), "(?s)<body>(.*)</body>", 1
        ).alias("text"),
        "lang",
    )
    n_pages = pages.count()

    # 2. robots gate: per-host rule tables (fixture hosts are
    # siteN.example; every 10th host disallows /p/, two hosts carve
    # an Allow exception under it), broadcast-joined, longest match
    host = F.regexp_extract("url", r"^https://([^/]+)/", 1)
    path = F.regexp_replace("url", r"^https://[^/]+", "")
    urls = pages.select(
        F.col("url").alias("doc_id"), host.alias("host"), path.alias("path")
    )
    hid = F.col("id")
    rules = (
        spark.range(997)
        .where(hid % 10 == 0)
        .select(
            F.concat(F.lit("site"), hid.cast("string"), F.lit(".example")).alias(
                "host"
            ),
            F.lit("/p/").alias("prefix"),
            F.lit(False).alias("allow"),
        )
        .unionByName(
            spark.range(997)
            .where(hid % 100 == 0)
            .select(
                F.concat(
                    F.lit("site"), hid.cast("string"), F.lit(".example")
                ).alias("host"),
                F.lit("/p/1").alias("prefix"),
                F.lit(True).alias("allow"),
            )
        )
    )
    verdicts = robots_verdicts(urls, F.broadcast(rules))
    allowed = pages.join(
        verdicts.where(F.col("allowed")).select(F.col("doc_id").alias("url")),
        "url",
        "left_semi",
    )
    n_allowed = allowed.count()

    # 3. politeness frontier: newest-first per host, budget 50,
    # crawl-delay derived from the host id
    frontier_in = allowed.select(
        F.col("url").alias("doc_id"),
        F.regexp_extract("url", r"^https://([^/]+)/", 1).alias("host"),
        F.unix_timestamp("warc_ts").alias("priority"),
        (
            F.lit(1)
            + F.regexp_extract("url", r"site(\d+)\.example", 1).cast("long") % 5
        ).alias("delay_s"),
    )
    plan = crawl_frontier(frontier_in, budget=50, epoch0=1700000000)
    n_scheduled = plan.count()
    scheduled = allowed.join(
        plan.select(F.col("doc_id").alias("url")), "url", "left_semi"
    )

    # 4. main-content pass: strip tags from the payload body; the
    # extracted text must be BYTE-IDENTICAL to the ingest-time text
    # (north-rule invariant) — asserted, not assumed
    extracted = scheduled.withColumn(
        "main_text",
        F.regexp_replace(
            F.regexp_extract(F.col("html").cast("string"), "(?s)<body>(.*)</body>", 1),
            "<[^>]*>",
            "",
        ),
    )
    n_divergent = extracted.where(F.col("main_text") != F.col("text")).count()
    if n_divergent:
        raise SystemExit(f"text identity violated for {n_divergent} urls")

    # 5. url canonical dedup (fixture urls are already canonical —
    # the stage still proves the one-shuffle shape)
    deduped = (
        extracted.withColumn("curl", canonical_url(F.col("url")))
        .groupBy("curl")
        .agg(
            F.min(F.struct("url", "warc_ts", "html", "text", "lang")).alias("r")
        )
        .select("r.url", "r.warc_ts", "r.html", "r.text", "r.lang")
    )
    n_unique = deduped.count()

    # 6. snapshot commit in the input_hint shape
    out = tempfile.mkdtemp(prefix="crawl_pipeline_")
    icetable.write_table(deduped, f"{out}/crawl", n_files=4)
    committed = icetable.read_table(spark, f"{out}/crawl").count()

    print(
        json.dumps(
            {
                "pages": n_pages,
                "robots_allowed": n_allowed,
                "scheduled": n_scheduled,
                "text_identity_divergent": n_divergent,
                "unique_urls": n_unique,
                "committed_rows": committed,
                "table": f"{out}/crawl",
            }
        )
    )


if __name__ == "__main__":
    main()
