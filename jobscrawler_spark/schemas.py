"""Fixed StructTypes for the engine's tables.

The reference hard-codes its six job columns in four places
(reference: src/crawler.py:335-345, src/crawlers/async_bs4.py:122-129);
here every schema is declared exactly once. A store declared without one
(the dedup band and label stores, takedowns, the IVF index, export
shards) records its first write's schema in its snapshot manifest
(plans/tables.py); later writes conform to it.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Primary payload table (BASELINE.json input_hint shape): fetch rounds land
# image+caption rows.  `image_id` plays the role of the reference's UNIQUE
# `link` column (reference: src/crawler.py:204).
# ---------------------------------------------------------------------------
IMAGES = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), True),
        StructField("w", IntegerType(), True),
        StructField("h", IntegerType(), True),
        StructField("fmt", StringType(), True),
        StructField("caption", StringType(), True),
        StructField("phash", LongType(), True),
    ]
)

# Fetch output = IMAGES + crawl lineage columns. Payload fields are all
# nullable here: non-200 fetches carry a null payload.
FETCH_RESULT = StructType(
    [StructField(f.name, f.dataType, True) for f in IMAGES.fields]
    + [
        StructField("url", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("host", StringType(), True),
        StructField("status", IntegerType(), True),
        StructField("round", IntegerType(), True),
        StructField("depth", IntegerType(), True),
        StructField("priority", DoubleType(), True),
        StructField("partition_id", IntegerType(), True),
        # UA rotation (reference: src/constants.py:2-18 15-UA pool,
        # random.choice at src/crawler.py:309 — here (digest + round) % 15)
        StructField("user_agent_idx", IntegerType(), True),
        StructField("outlinks", ArrayType(StringType()), True),
    ]
)

# ---------------------------------------------------------------------------
# Frontier / scheduler state (FIXTURES.md §10)
# ---------------------------------------------------------------------------
FRONTIER = StructType(
    [
        StructField("url", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("host", StringType(), True),
        StructField("shard", IntegerType(), False),
        StructField("priority", DoubleType(), True),
        StructField("depth", IntegerType(), True),
        StructField("not_before_round", IntegerType(), True),
        StructField("attempts", IntegerType(), True),
    ]
)

# Delta-frontier state (SCALING.md "Frontier" section): the stored rows
# carry the round they were inserted in (`added_in`) so host-level delay
# events can be applied to exactly the rows that existed when the event
# fired; removals are per-round tombstones; both fold away at compaction.
FRONTIER_STORED = StructType(
    list(FRONTIER.fields) + [StructField("added_in", IntegerType(), False)]
)

FRONTIER_RM = StructType(
    [
        StructField("url_hash", LongType(), False),
        StructField("url", StringType(), False),
        StructField("removed_in", IntegerType(), False),
    ]
)

FRONTIER_DELAY = StructType(
    [
        StructField("host", StringType(), False),
        StructField("event_round", IntegerType(), False),
        StructField("until", IntegerType(), False),
    ]
)

# Host link graph (priority_mode="pagerank"): distinct post-robots
# (source host -> target host) edges observed across rounds — a
# dimension-sized table (hosts, not URLs) feeding the integer PageRank
# that prioritizes newly discovered links by host centrality.
HOST_EDGES = StructType(
    [
        StructField("src_host", StringType(), False),
        StructField("dst_host", StringType(), False),
    ]
)

SEEN_SET = StructType(
    [
        StructField("url_hash", LongType(), False),
        StructField("url", StringType(), True),
        StructField("shard", IntegerType(), False),
        StructField("round_added", IntegerType(), True),
    ]
)

SEEN_BLOOM = StructType(
    [
        StructField("shard", IntegerType(), False),
        # the backend's build() bytes; the filter's size is their length
        StructField("bits", BinaryType(), True),
        StructField("n_items", LongType(), True),
        # the newest round whose URLs the segment holds
        StructField("round_added", IntegerType(), True),
    ]
)

ROUND_METRICS = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("partition_id", IntegerType(), True),
        StructField("urls_selected", LongType(), True),
        StructField("urls_fetched", LongType(), True),
        StructField("urls_ok", LongType(), True),
        StructField("new_urls", LongType(), True),
        StructField("rows_landed", LongType(), True),
        StructField("wall_ms", LongType(), True),
        StructField("input_snapshot", StringType(), True),
    ]
)

POLITENESS = StructType(
    [
        StructField("host", StringType(), False),
        StructField("max_fetches_per_round", IntegerType(), True),
        StructField("crawl_delay_rounds", IntegerType(), True),
    ]
)

ROBOTS = StructType(
    [
        StructField("host", StringType(), False),
        StructField("path_prefix", StringType(), True),
        StructField("allow", BooleanType(), True),
    ]
)

# ---------------------------------------------------------------------------
# The reference's job-record shape (reference: src/crawler.py:200-215 insert
# column list; pubdate/timestamp stamped at extract, location_tags from the
# enrichment join).
# ---------------------------------------------------------------------------
JOBS = StructType(
    [
        StructField("title", StringType(), True),
        StructField("link", StringType(), False),
        StructField("description", StringType(), True),
        StructField("pubdate", DateType(), True),
        StructField("location", StringType(), True),
        StructField("timestamp", TimestampType(), True),
        StructField("location_tags", ArrayType(StringType()), True),
    ]
)

# Site-config dimension (reference: src/models.py:57-87 dataclasses).
# Per-site selector paths are DATA, exactly like the reference's
# Bs4ElementPath (5 CSS selectors per site, src/models.py:40-54, used at
# src/crawlers/async_bs4.py:139-171) and the API JSON-tag paths
# (src/crawlers/async_api.py:19-27): null -> the engine's default patterns.
SITE_CONFIGS = StructType(
    [
        StructField("name", StringType(), False),
        StructField("source_kind", StringType(), False),  # bs4 | api | rss
        StructField("strategy", StringType(), True),  # main|container|dict|list
        StructField("url", StringType(), False),
        StructField("pages_to_crawl", IntegerType(), True),
        StructField("start_point", IntegerType(), True),
        StructField("follow_link", StringType(), True),
        StructField("inner_link_tag", StringType(), True),
        StructField("config_idx", IntegerType(), True),  # config-file order (quirk 7)
        # bs4 element paths (regex with one capture group each)
        StructField("sel_job", StringType(), True),
        StructField("sel_title", StringType(), True),
        StructField("sel_link", StringType(), True),
        StructField("sel_loc", StringType(), True),
        StructField("sel_desc", StringType(), True),
        # api JSON-tag paths
        StructField("tag_title", StringType(), True),
        StructField("tag_link", StringType(), True),
        StructField("tag_desc", StringType(), True),
        StructField("tag_loc", StringType(), True),
    ]
)

# Canned fetch bodies for strategy-level unit tests (FIXTURES.md §4).
PAYLOADS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("status", IntegerType(), True),
        StructField("body", StringType(), True),
        StructField("content_kind", StringType(), True),  # html | json | rss
    ]
)

WORLD_LOCATIONS = StructType(
    [
        StructField("alias", StringType(), False),
        StructField("tag", StringType(), False),
        StructField("kind", StringType(), True),  # continent|zone|country|alias
    ]
)

EMBED_WATERMARK = StructType(
    [
        StructField("id", LongType(), False),  # xxhash64-derived job ids
        StructField("timestamp", TimestampType(), True),
        StructField("model", StringType(), True),
        StructField("test", BooleanType(), True),
    ]
)

# embeddings sink (reference: to_embeddings_e5_base_v2 CREATE TABLE,
# src/embeddings/e5_base_v2_utils.py:117-130 — vector(768) becomes
# array<double> of the synthetic model's dim)
EMBEDDINGS_SINK = StructType(
    [
        StructField("id", LongType(), False),
        StructField("job_info", StringType(), True),
        StructField("timestamp", TimestampType(), True),
        StructField("embedding", ArrayType(DoubleType()), True),
    ]
)
