"""SCD-2 temporal-table construction and INCREMENTAL maintenance.

`build_scd2` turns a crawl log into a type-2 interval table from
scratch (the shape plans.q_webtext.scd2_page_history censuses);
`merge_scd2_increment` is the production path: fold a new crawl
increment into an existing history WITHOUT rebuilding — the
merge-on-read upsert a warehouse runs per crawl batch.

Scale contract of the merge: closed intervals are NEVER touched (pure
pass-through union — at 100 TB they are the overwhelming bulk of the
table and stay on disk partitions that are not even shuffled); open
rows for urls absent from the increment pass through via one
LEFT-ANTI join against the (small) increment url set; only the
increment's urls enter the window stage, whose input is
|Δ| + |open rows of Δ's urls| ≈ 2|Δ| rows. History depth per url is
bounded by recrawl policy, so the url key cannot be hot.

Late-arrival contract: an increment row whose timestamp is at or
before the url's current open ``ep_from`` is dropped — history is
append-only in event time; backfills go through `build_scd2` from the
full log.

Interval schema (both functions): host, url, version_no, raw_h,
ep_from, ep_to — ``ep_to`` NULL while current; epochs are floored
seconds (ntz cast under the pinned-UTC session, the repo-wide
convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_W_URL = Window.partitionBy("url").orderBy("ep_from")


def _intervals(change_rows: DataFrame, version_base: F.Column) -> DataFrame:
    """change rows (url-partitioned, ep_from-ordered) -> versioned
    intervals. ``version_base`` is added to the per-url row_number so
    merged increments continue the existing numbering."""
    return (
        change_rows.withColumn(
            "version_no",
            (F.row_number().over(_W_URL) + version_base).cast("int"),
        )
        .withColumn("ep_to", F.lead("ep_from").over(_W_URL))
        .select("host", "url", "version_no", "raw_h", "ep_from", "ep_to")
    )


def build_scd2(crawls: DataFrame) -> DataFrame:
    """crawls(host, url, warc_ts, raw_h) -> full SCD-2 history.

    One url shuffle: the lag change-detection window and the interval
    assembly windows share partitioning and ordering, so Catalyst
    reuses the exchange and sort (asserted on the census query built
    on this shape in tests/test_plans.py::
    test_scd2_history_single_url_shuffle)."""
    rows = crawls.select(
        "host",
        "url",
        F.col("warc_ts").cast("timestamp").cast("long").alias("ep_from"),
        "raw_h",
    )
    changed = rows.withColumn("prev_h", F.lag("raw_h").over(_W_URL)).filter(
        F.col("prev_h").isNull() | (F.col("prev_h") != F.col("raw_h"))
    )
    return _intervals(changed.drop("prev_h"), F.lit(0))


def merge_scd2_increment(
    history: DataFrame, delta: DataFrame, broadcast_delta: bool = True
) -> DataFrame:
    """Fold delta(host, url, warc_ts, raw_h) into an existing SCD-2
    history; returns the updated history, equal to rebuilding from the
    concatenated log (asserted in tests/test_scd2_sampling.py).

    Only the increment's url groups are windowed; everything else is
    a pass-through union. ``broadcast_delta`` hints the increment's
    url set onto the open-rows anti/semi joins — right for the normal
    per-crawl-batch Δ ≪ history case; pass False for a full-recrawl
    increment so AQE picks a shuffle join instead of shipping an
    oversized url set to every executor."""
    closed = history.filter(F.col("ep_to").isNotNull())
    open_rows = history.filter(F.col("ep_to").isNull())
    delta_urls = delta.select("url").distinct()
    if broadcast_delta:
        delta_urls = F.broadcast(delta_urls)

    untouched_open = open_rows.join(delta_urls, "url", "left_anti")
    touched_open = open_rows.join(delta_urls, "url", "left_semi")

    d = delta.select(
        "host",
        "url",
        F.col("warc_ts").cast("timestamp").cast("long").alias("ep_from"),
        "raw_h",
    )
    # late-arrival drop: increment rows not strictly after the url's
    # open version are history rewrites, which the merge refuses
    cur_ep = touched_open.select(
        "url",
        F.col("ep_from").alias("cur_ep"),
        F.col("version_no").alias("cur_version"),
    )
    if broadcast_delta:
        cur_ep = F.broadcast(cur_ep)
    d = (
        d.join(cur_ep, "url", "left")
        .filter(F.col("cur_ep").isNull() | (F.col("ep_from") > F.col("cur_ep")))
        .drop("cur_ep", "cur_version")
    )

    # replay each touched url's open row together with its increment
    # rows through the same change-detection window as build_scd2
    seed = touched_open.select(
        "host", "url", "ep_from", "raw_h", "version_no", F.lit(True).alias("is_hist")
    )
    new = d.select(
        "host", "url", "ep_from", "raw_h",
        F.lit(None).cast("int").alias("version_no"),
        F.lit(False).alias("is_hist"),
    )
    u = seed.unionByName(new)
    changed = u.withColumn("prev_h", F.lag("raw_h").over(_W_URL)).filter(
        F.col("prev_h").isNull() | (F.col("prev_h") != F.col("raw_h"))
    )
    # version numbering continues from the open row when present; a
    # brand-new url starts at 1. The open seed row sorts first (late
    # rows were dropped above), so for new rows:
    #   version = (open row's version) + rank-among-kept - (1 if the
    #   open row survived the change filter, which it always does as
    #   the group's first row)
    wurl = Window.partitionBy("url")
    base = F.max(F.when(F.col("is_hist"), F.col("version_no"))).over(wurl)
    n_hist = F.sum(F.col("is_hist").cast("int")).over(wurl)
    rn = F.row_number().over(_W_URL)
    merged = (
        changed.withColumn(
            "version_no",
            F.when(F.col("is_hist"), F.col("version_no")).otherwise(
                (F.coalesce(base, F.lit(0)) + rn - n_hist).cast("int")
            ),
        )
        .withColumn("ep_to", F.lead("ep_from").over(_W_URL))
        .select("host", "url", "version_no", "raw_h", "ep_from", "ep_to")
    )
    return closed.unionByName(untouched_open).unionByName(merged)
