"""Frontier scheduling: robots gate, politeness budgets, priority selection.

Reference analogues: the per-site page loop bounded by config
(``pages_to_crawl``, reference: src/crawlers/async_bs4.py:349) and the
config-file-order execution contract (src/crawler.py:322-349). The
reference has NO per-host politeness or robots handling (its only rate
limiting is a random sleep before Discord posts, src/logs_in_discord.py:25-27);
both are north_rule additions, built as declarative DataFrame stages:

- **robots gate**: rules pre-grouped per host into an array column and
  broadcast; longest-prefix match is ``array_max`` over the applicable
  rules — zero shuffles, whole-stage codegen.
- **politeness budget**: one exact per-host ``row_number() <= budget``
  window. A literal bound at the largest budget lets Spark plan a Partial
  ``WindowGroupLimit`` before the host exchange, so a hot host ships at
  most that many rows per map partition (no hot-host straggler in the
  window).
- **deterministic order**: the fetch-order contract is the data-defined
  sort key ``(round, priority, url)`` — never task completion order.
  URLs are ASCII, so Spark and the Python oracle sort identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def fetch_salt_buckets(n_partitions: int) -> int:
    """FETCH-repartition salt count: 16 buckets per fetch partition.
    Exposed so the skew bench reports exactly what salted_repartition
    measures (no hand-copied formula to drift)."""
    return 16 * max(n_partitions, 1)


def robots_like_pattern(p) -> "F.Column":
    """Robots path pattern -> SQL LIKE pattern (RFC 9309 wildcards).

    ``*`` matches any character sequence; a TRAILING ``$`` anchors the
    match at the end of the path (a mid-pattern ``$`` is literal, per the
    RFC). LIKE metacharacters in the rule (%, _, \\) are escaped so they
    stay literal. Computed once per RULE in the grouped dim (dimension-
    sized, map-side), never per candidate row.
    """
    anchored = F.endswith(p, F.lit("$"))
    core = F.when(anchored, F.substr(p, F.lit(1), F.length(p) - F.lit(1))).otherwise(p)
    esc = F.replace(core, F.lit("\\"), F.lit("\\\\"))
    esc = F.replace(esc, F.lit("%"), F.lit("\\%"))
    esc = F.replace(esc, F.lit("_"), F.lit("\\_"))
    esc = F.replace(esc, F.lit("*"), F.lit("%"))
    return F.when(anchored, esc).otherwise(F.concat(esc, F.lit("%")))


def group_robots(robots: DataFrame) -> DataFrame:
    """Pre-aggregate robots rules to one array row per host (cacheable —
    the engine reuses it across rounds instead of re-grouping the dim).

    Each rule struct carries its precompiled wildcard form: ``plain``
    rules (no ``*``/trailing ``$`` — the overwhelmingly common case) keep
    the startswith fast path; wildcard rules get a LIKE pattern. The
    struct is ordered (len, prefix, allow, ...) so array_max still picks
    the LONGEST matching rule — RFC 9309 precedence, with allow winning
    exact ties (true > false)."""
    return robots.groupBy("host").agg(
        F.collect_list(
            F.struct(
                F.length("path_prefix").alias("len"),
                F.col("path_prefix").alias("prefix"),
                F.col("allow").alias("allow"),
                (
                    ~(
                        F.col("path_prefix").contains("*")
                        | F.endswith(F.col("path_prefix"), F.lit("$"))
                    )
                ).alias("plain"),
                robots_like_pattern(F.col("path_prefix")).alias("pat"),
            )
        ).alias("rules")
    )


def _robots_best_rule(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """Attach the winning robots rule per candidate as ``__best`` (null =
    no rule matched = allowed). Shared by robots_gate / robots_decisions."""
    rules_by_host = robots if "rules" in robots.columns else group_robots(robots)
    path = F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit("/"))
    with_rules = candidates.join(F.broadcast(rules_by_host), "host", "left")
    applicable = F.filter(
        F.coalesce(F.col("rules"), F.array()),
        lambda r: F.when(r["plain"], F.startswith(path, r["prefix"])).otherwise(
            F.like(path, r["pat"], F.lit("\\"))
        ),
    )
    # struct order: longest matching rule first (len, then prefix, then allow)
    return with_rules.withColumn("__best", F.array_max(applicable))


def robots_gate(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop candidates whose path matches a disallow rule (longest match
    wins; RFC 9309 wildcards supported — see robots_like_pattern).

    URLs with no matching rule are allowed. ``robots`` is the small dim
    (host, path_prefix, allow) — broadcast; pass a pre-grouped dim (from
    group_robots) to skip the per-call aggregation.
    """
    return (
        _robots_best_rule(candidates, robots)
        .withColumn("__allow", F.coalesce(F.col("__best")["allow"], F.lit(True)))
        .filter(F.col("__allow"))
        .drop("rules", "__best", "__allow")
    )


def robots_decisions(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """The robots MATCHING DECISION itself, for auditing/gating: one row
    per candidate with the verdict and the winning rule (null rule = no
    match = allowed). robots_gate == filter(allow) over this."""
    return (
        _robots_best_rule(candidates, robots)
        .select(
            "host",
            "url",
            F.coalesce(F.col("__best")["allow"], F.lit(True)).alias("allow"),
            F.col("__best")["prefix"].alias("rule"),
        )
    )


def politeness_select(
    candidates: DataFrame,
    politeness: DataFrame,
    default_budget: int = 8,
    max_budget: int | None = None,
) -> DataFrame:
    """Per-host top-budget selection ordered by (priority, url).

    ``politeness`` dim: (host, max_fetches_per_round, crawl_delay_rounds).
    Hosts missing from the dim get ``default_budget``; ``None`` means every
    host does (no budget join). Budget 0 hosts are never selected.
    Applied BEFORE salting so salts can't violate budgets.

    ``max_budget`` is the largest per-host budget (``default_budget`` when
    there is no dim; required with one). The ``rn <= max_budget`` conjunct
    never changes the result; it is the literal bound from which Spark
    plans a Partial ``WindowGroupLimit`` below the ``hashpartitioning(host)``
    exchange (``get_spark`` raises
    ``spark.sql.optimizer.windowGroupLimitThreshold`` so any budget gets
    it). A value below some host's budget would truncate that host.
    """
    if politeness is None:
        cand = candidates.withColumn("__budget", F.lit(default_budget))
        max_budget = default_budget if max_budget is None else max_budget
    elif max_budget is None:
        raise ValueError("politeness_select with a politeness dim needs max_budget")
    else:
        cand = candidates.join(
            F.broadcast(politeness.select("host", "max_fetches_per_round")), "host", "left"
        ).withColumn("__budget", F.coalesce(F.col("max_fetches_per_round"), F.lit(default_budget)))

    w = Window.partitionBy("host").orderBy("priority", "url")
    rn = F.col("__rn")
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter((rn <= max_budget) & (rn <= F.col("__budget")) & (F.col("__budget") > 0))
        .drop("__rn", "__budget", "max_fetches_per_round")
    )


def salted_repartition(selected: DataFrame, n_partitions: int) -> DataFrame:
    """Spread the selected round across workers by (host, salt) so one hot
    host cannot serialize the fetch stage. Budgets were already enforced,
    so the fetch salt has no correctness role — it only controls
    distribution — and is fetch_salt_buckets (16 per partition), which drops a 50%-one-host
    round's max/median partition wall from ~2.6 to ~1.3 (balls-into-bins:
    hot-row std per partition ~ H/sqrt(salts x partitions); measured in
    BENCH/BASELINE.md "Adversarial host skew")."""
    salt = F.pmod(F.col("url_hash"), F.lit(fetch_salt_buckets(n_partitions)))
    return selected.repartition(n_partitions, F.col("host"), salt)


# crawl-delay pushback lives in plans.delta_frontier (host-level delay
# events folded in at read time) — rewriting the affected rows here would
# reintroduce the O(frontier) per-round write the delta frontier removes.


def parse_robots_txt(bodies: DataFrame, user_agent: str = "*") -> DataFrame:
    """(host, body) -> the ROBOTS dim (host, path_prefix, allow).

    A real robots.txt parser in pure Catalyst. Group semantics follow the
    robots spec: CONSECUTIVE ``User-agent`` lines form ONE group and every
    rule under them applies to all of those agents ("User-agent: *\\n
    User-agent: badbot\\nDisallow: /x" disallows /x for both). Lines are
    posexploded; a group starts at a User-agent line not directly preceded
    by another (cumulative-sum group ids); the group's agent SET is
    collected and rules filter on membership of ``user_agent``. Handles
    comments, blank lines, case-insensitive directives, and the empty
    ``Disallow:`` (allow-all, dropped — absence of a rule means allowed).
    At scale this runs over the fetch stage's /robots.txt round — robots
    discovery IS the same crawl dataflow pointed at one path.
    """
    rules = _robots_directives(bodies, user_agent)
    return (
        rules.filter(F.col("d").isin("allow", "disallow"))
        .filter(F.col("v") != "")  # empty Disallow: == allow-all == no rule
        .select(
            "host",
            F.col("v").alias("path_prefix"),
            (F.col("d") == "allow").alias("allow"),
        )
        .distinct()
    )


def parse_robots_sitemaps(bodies: DataFrame) -> DataFrame:
    """(host, sitemap_url) from ``Sitemap:`` records — seed DISCOVERY, the
    crawl-stack step before the frontier (reference has none: its seeds
    are the per-site JSON configs, src/resources/*). Per the robots spec
    (RFC 9309 §2.2.4 shape) Sitemap is a STANDALONE record: it belongs to
    no User-agent group, applies regardless of agent, and the rule parser
    ignores it without terminating a group stack (pinned in
    tests/test_sitemaps.py). Map-side: posexplode + regexp, no shuffle
    beyond the final distinct."""
    lines = bodies.select(
        "host", F.posexplode(F.split("body", r"\r?\n")).alias("pos", "line")
    ).withColumn("line", F.trim(F.regexp_replace("line", r"#.*$", "")))
    url = F.trim(F.regexp_extract("line", r"(?i)^sitemap\s*:\s*(\S+)", 1))
    return (
        lines.select("host", url.alias("sitemap_url"))
        .filter(F.col("sitemap_url") != "")
        .distinct()
    )


def sitemap_seeds(parsed: DataFrame) -> DataFrame:
    """(url, priority, depth) bootstrap seeds from parse_sitemap 'url'
    rows. Priority is the LINK-RULE hash priority
    (pmod(xxhash64(canonical), 1e6)/1e6) — data-defined, so the oracle
    simulator recomputes it bit-identically (oracle/simulator.py
    _priority_of) and sitemap-seeded crawls stay exactly equivalent.
    depth 0: sitemap entries are roots, like config seeds."""
    from ..functions.urls import with_canonical

    u = parsed.filter(F.col("kind") == "url").select(F.col("loc").alias("url")).distinct()
    return with_canonical(u, n_shards=1).select(
        "url",
        (F.pmod(F.col("url_hash"), F.lit(1_000_000)).cast("double") / 1_000_000.0).alias(
            "priority"
        ),
        F.lit(0).alias("depth"),
    )


def parse_robots_crawl_delay(bodies: DataFrame, user_agent: str = "*") -> DataFrame:
    """(host, crawl_delay_rounds) from ``Crawl-delay`` directives in the
    ``user_agent``'s group (max wins if repeated) — robots discovery feeds
    the politeness dim as well as the path rules."""
    rules = _robots_directives(bodies, user_agent)
    return (
        rules.filter((F.col("d") == "crawl-delay") & (F.col("v").rlike(r"^\d+$")))
        .groupBy("host")
        .agg(F.max(F.col("v").cast("int")).alias("crawl_delay_rounds"))
    )


def _robots_directives(bodies: DataFrame, user_agent: str) -> DataFrame:
    """Shared parse: (host, pos, d, v) directives belonging to the
    ``user_agent``'s group(s) — consecutive User-agent lines form one
    group (robots spec), rules join the group's agent SET."""
    lines = bodies.select(
        "host", F.posexplode(F.split("body", r"\r?\n")).alias("pos", "line")
    ).withColumn("line", F.trim(F.regexp_replace("line", r"#.*$", "")))
    directive = F.lower(
        F.regexp_extract("line", r"(?i)^(user-agent|allow|disallow|crawl-delay)\s*:", 1)
    )
    value = F.trim(F.regexp_extract("line", r"(?i)^[a-z-]+\s*:\s*(\S*)", 1))
    parsed = lines.select(
        "host", "pos", directive.alias("d"), value.alias("v")
    ).filter(F.col("d") != "")
    wo = Window.partitionBy("host").orderBy("pos")
    is_ua = F.col("d") == "user-agent"
    group_start = (
        is_ua & (F.lag("d").over(wo).isNull() | (F.lag("d").over(wo) != "user-agent"))
    ).cast("int")
    grouped = parsed.withColumn(
        "group_id",
        F.sum(group_start).over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    agents = (
        grouped.filter(is_ua)
        .groupBy("host", "group_id")
        .agg(F.collect_set("v").alias("agents"))
    )
    return (
        grouped.filter(~is_ua)
        .join(agents, ["host", "group_id"])
        .filter(F.array_contains("agents", user_agent))
        .select("host", "pos", "d", "v")
    )
