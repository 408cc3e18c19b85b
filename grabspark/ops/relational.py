"""Crawl-dataflow operators (SURVEY.md §2) expressed over the TPC-H-ish
driver fixtures, each paired with a DuckDB oracle.

The crawl engine's operators are generic dataflow primitives — seen
anti-join (J1), fetch lookup join (J3), per-host window rank + budget
(W1/X3), global FIFO sequence (W2), first-occurrence dedupe (A1),
metrics rollup (A2), URL canonicalization (X2), link extraction (X1),
same-host filter (P4) — demonstrated here on the shared testdata tables
so the driver can check them against SQL semantics.  Plan-quality notes
inline (broadcast hints for dimension joins, single-shuffle aggs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import udfs
from .common import T

# ---------------------------------------------------------------------------
# baselines: scan-agg and join-agg (Catalyst showcase; pushdown + partial agg)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    l = T(spark, sf, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    c = T(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp"))
    l = T(spark, sf, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
    # customer is the small dim: broadcast it; lineitem-orders is the big
    # shuffle join (AQE may convert after stats)
    j = l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).join(
        F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")
    )
    agg = j.groupBy("l_orderkey", "o_orderdate").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )
    return agg.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)


_Q3_SQL = """
SELECT l_orderkey, o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# J1 seen anti-join / semi join  (frontier dedupe vs the seen table)
# ---------------------------------------------------------------------------


def anti_join_unseen(spark: SparkSession, sf: str) -> DataFrame:
    """Customers with no orders ≙ frontier rows absent from `seen`."""
    c = T(spark, sf, "customer")
    o = T(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def semi_join_seen(spark: SparkSession, sf: str) -> DataFrame:
    c = T(spark, sf, "customer")
    o = T(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_acctbal")


_SEMI_SQL = """
SELECT c_custkey, c_acctbal
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def bloom_prefilter_antijoin(spark: SparkSession, sf: str) -> DataFrame:
    """J2: same result as anti_join_unseen but routed through the sharded
    Bloom prefilter — proves the filter is advisory (no lost/extra rows).
    Definitely-new rows skip the exact anti-join; maybe-seen rows flow
    through it."""
    from ..bloom import ShardedBloom, broadcast_might_contain, build_partials, merge_partials_into

    c = T(spark, sf, "customer")
    o = T(spark, sf, "orders")
    # distributed build: executors emit per-shard partial bitmaps, the
    # driver ORs fixed-size bitmaps — no data rows are ever collected
    bl = ShardedBloom(n_bits=1 << 17, n_hashes=7, n_shards=8)
    partials = build_partials(
        o.select(F.col("o_custkey").cast("string").alias("_bk")),
        "_bk", bl.n_bits, bl.n_hashes, bl.n_shards,
    ).collect()
    merge_partials_into(bl, partials)
    might = broadcast_might_contain(spark, bl)
    tagged = c.withColumn("_maybe", might(F.col("c_custkey").cast("string")))
    sure_new = tagged.filter(~F.col("_maybe")).drop("_maybe")
    maybe = tagged.filter(F.col("_maybe")).drop("_maybe")
    out = sure_new.unionByName(maybe.join(o, maybe.c_custkey == o.o_custkey, "left_anti"))
    return out.select("c_custkey", "c_name", "c_mktsegment")


# ---------------------------------------------------------------------------
# J3 fetch lookup join (store hit/miss ≙ fetch ok/failure)
# ---------------------------------------------------------------------------


def fetch_lookup_join(spark: SparkSession, sf: str) -> DataFrame:
    """Orders look up their customer 'page'; dim filtered so some rows
    miss — a miss is a fetch failure (ok=false), mirroring
    main_functions.go:57-62 store-miss semantics."""
    o = T(spark, sf, "orders")
    store = T(spark, sf, "customer").filter(F.col("c_acctbal") > 0).select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    j = o.join(F.broadcast(store), o.o_custkey == store.c_custkey, "left")
    return j.select(
        "o_orderkey",
        "o_custkey",
        F.col("c_name").isNotNull().alias("ok"),
        "c_name",
        "c_mktsegment",
    )


_FETCH_SQL = """
SELECT o_orderkey, o_custkey,
       (c.c_name IS NOT NULL) AS ok, c.c_name, c.c_mktsegment
FROM orders o
LEFT JOIN (SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_acctbal > 0) c
  ON o.o_custkey = c.c_custkey
"""


# ---------------------------------------------------------------------------
# W1 per-host window rank + politeness budget
# ---------------------------------------------------------------------------


def window_rank_per_host(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 orders per customer by (price desc, key) ≙ per-host priority
    rank with budget 3."""
    o = T(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk")
    )


_RANK_SQL = """
SELECT o_custkey, o_orderkey, rk FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 3
"""


def per_host_budget(spark: SparkSession, sf: str) -> DataFrame:
    """W1+X3: events as a frontier; host = user bucket; per-host budget
    from a small crawl-delay dimension (broadcast join), rank by arrival
    (ts, event_id) and keep within budget."""
    e = T(spark, sf, "events").withColumn(
        "host", F.concat(F.lit("h"), (F.col("user_id") % 10).cast("string"), F.lit(".test"))
    )
    delays = spark.createDataFrame(
        [(f"h{i}.test", float(1 + (i % 3))) for i in range(10)], ["host", "crawl_delay"]
    )
    budget = F.greatest(F.lit(1), F.floor(F.lit(6.0) / F.col("crawl_delay"))).cast("int")
    w = Window.partitionBy("host").orderBy("ts", "event_id")
    return (
        e.join(F.broadcast(delays), "host")
        .withColumn("budget", budget)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= F.col("budget"))
        .select("host", "event_id", "rk", "budget")
    )


_BUDGET_SQL = """
WITH delays AS (
  SELECT 'h' || i || '.test' AS host, CAST(1 + (i % 3) AS DOUBLE) AS crawl_delay
  FROM (SELECT unnest(generate_series(0, 9)) AS i)
), fr AS (
  SELECT 'h' || (user_id % 10) || '.test' AS host, event_id, ts FROM events
)
SELECT host, event_id, rk, budget FROM (
  SELECT fr.host, fr.event_id,
         row_number() OVER (PARTITION BY fr.host ORDER BY fr.ts, fr.event_id) AS rk,
         CAST(greatest(1, floor(6.0 / d.crawl_delay)) AS INT) AS budget
  FROM fr JOIN delays d ON fr.host = d.host
) WHERE rk <= budget
"""


# ---------------------------------------------------------------------------
# Politeness schedule (round 3): W1+X3 composed into the scheduler's real
# output — a per-host fetch TIMETABLE.  per_host_budget answers "which
# URLs fit this round"; this answers "when does each URL get fetched":
# rank within host by arrival, fetch_at = rank * crawl_delay.  Only the
# near-term horizon (first _SCHED_HORIZON per host) is materialized —
# exactly how a real scheduler emits work, and the rank-limit window
# pushes a Partial WindowGroupLimit below the exchange so no host ships
# more than the horizon per map partition.
# ---------------------------------------------------------------------------
_SCHED_HORIZON = 50


def politeness_schedule(spark: SparkSession, sf: str) -> DataFrame:
    """(host, event_id, rk, fetch_at_ms, sched_round): per-host timetable
    under the crawl-delay dimension.  fetch_at_ms = (rk-1)*delay*1000 is
    exact integer-valued float math (delay in {1,2,3}); sched_round
    buckets it into the engine's 6-second scheduling tick.

    100 TB shape: ONE exchange on host serves the window; the delay
    dimension broadcasts; the rank-limit filter is pushed below the
    shuffle (Partial WindowGroupLimit), bounding every map partition to
    the horizon per host.
    """
    e = T(spark, sf, "events").withColumn(
        "host", F.concat(F.lit("h"), (F.col("user_id") % 10).cast("string"), F.lit(".test"))
    )
    delays = spark.createDataFrame(
        [(f"h{i}.test", float(1 + (i % 3))) for i in range(10)], ["host", "crawl_delay"]
    )
    w = Window.partitionBy("host").orderBy("ts", "event_id")
    return (
        e.join(F.broadcast(delays), "host")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _SCHED_HORIZON)
        .select(
            "host",
            "event_id",
            "rk",
            F.expr("CAST((rk - 1) * crawl_delay * 1000 AS BIGINT)").alias("fetch_at_ms"),
            F.expr(
                "CAST(CAST((rk - 1) * crawl_delay * 1000 AS BIGINT) DIV 6000 AS INT)"
            ).alias("sched_round"),
        )
    )


_SCHEDULE_SQL = f"""
WITH delays AS (
  SELECT 'h' || i || '.test' AS host, CAST(1 + (i % 3) AS DOUBLE) AS crawl_delay
  FROM (SELECT unnest(generate_series(0, 9)) AS i)
), fr AS (
  SELECT 'h' || (user_id % 10) || '.test' AS host, event_id, ts FROM events
), ranked AS (
  SELECT fr.host, fr.event_id, d.crawl_delay,
         row_number() OVER (PARTITION BY fr.host ORDER BY fr.ts, fr.event_id) AS rk
  FROM fr JOIN delays d ON fr.host = d.host
)
SELECT host, event_id, rk,
       CAST((rk - 1) * crawl_delay * 1000 AS BIGINT) AS fetch_at_ms,
       CAST(CAST((rk - 1) * crawl_delay * 1000 AS BIGINT) // 6000 AS INT) AS sched_round
FROM ranked WHERE rk <= {_SCHED_HORIZON}
"""


# ---------------------------------------------------------------------------
# W2 global FIFO sequence
# ---------------------------------------------------------------------------


def global_fifo_seq(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic global sequence over a filtered slice ≙ fetch_seq
    assignment in (parent_seq, link_idx) order."""
    o = T(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-02-01").cast("timestamp"))
    )
    w = Window.orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey", (F.row_number().over(w) - 1).cast("long").alias("fetch_seq")
    )


_SEQ_SQL = """
SELECT o_orderkey,
       CAST(row_number() OVER (ORDER BY o_orderdate, o_orderkey) - 1 AS BIGINT) AS fetch_seq
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-02-01'
"""


# ---------------------------------------------------------------------------
# A1 first-occurrence dedupe
# ---------------------------------------------------------------------------


def first_occurrence_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """First event per (user, type) in arrival order — the engine's A1
    (groupBy + min_by, single shuffle with partial aggregation — cheaper
    than a sort-based window at scale)."""
    e = T(spark, sf, "events")
    # composite arrival key encoded as a fixed-width string so Spark's
    # min_by and DuckDB's arg_min agree on the same total order
    arrival = F.concat(
        # ts is TIMESTAMP_NTZ; session TZ is UTC so the cast matches
        # DuckDB's naive epoch_us
        F.lpad(F.unix_micros(F.col("ts").cast("timestamp")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        e.groupBy("user_id", "event_type")
        .agg(
            F.min_by(F.col("event_id"), arrival).alias("first_event_id"),
            F.min("ts").alias("first_ts"),
        )
    )


_FIRSTOCC_SQL = """
SELECT user_id, event_type,
       arg_min(event_id, concat(lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0'),
                                lpad(CAST(event_id AS VARCHAR), 12, '0'))) AS first_event_id,
       min(ts) AS first_ts
FROM events
GROUP BY user_id, event_type
"""


# ---------------------------------------------------------------------------
# X2 URL canonicalization (REF canon + NR canon_full)
# ---------------------------------------------------------------------------

_URL_BUILD = (
    "concat('http://h', CAST(o_orderkey % 7 AS STRING), '.test/o/', "
    "CAST(o_orderkey AS STRING), repeat('/', CAST(o_orderkey % 3 AS INT)), "
    "CASE WHEN o_orderkey % 4 = 0 THEN '?b=2&a=1' ELSE '' END, "
    "CASE WHEN o_orderkey % 5 = 0 THEN '#frag' ELSE '' END)"
)

_URL_BUILD_DUCK = (
    "concat('http://h', CAST(o_orderkey % 7 AS VARCHAR), '.test/o/', "
    "CAST(o_orderkey AS VARCHAR), repeat('/', CAST(o_orderkey % 3 AS INT)), "
    "CASE WHEN o_orderkey % 4 = 0 THEN '?b=2&a=1' ELSE '' END, "
    "CASE WHEN o_orderkey % 5 = 0 THEN '#frag' ELSE '' END)"
)


def url_canonicalize(spark: SparkSession, sf: str) -> DataFrame:
    """REF-EXACT canon_ref (trailing-slash strip of the path only,
    text_utils.go:10-22) via the engine's Arrow UDF on constructed URLs."""
    o = T(spark, sf, "orders")
    u = o.select("o_orderkey", F.expr(_URL_BUILD).alias("url"))
    return u.withColumn("url_canon", udfs.canon_ref_udf(F.col("url")))


_CANON_SQL = f"""
SELECT o_orderkey, url,
       regexp_replace(url,
         '^([A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*)([^?#]*?)/*(\\?[^#]*)?(#.*)?$',
         '\\1\\2\\3\\4') AS url_canon
FROM (SELECT o_orderkey, {_URL_BUILD_DUCK} AS url FROM orders)
"""


def url_canon_full(spark: SparkSession, sf: str) -> DataFrame:
    """NR-EXT canon_full: lowercase host, strip port + fragment, sort
    query params (BASELINE.json north_star)."""
    o = T(spark, sf, "orders")
    build = (
        "concat('http://H', CAST(o_orderkey % 7 AS STRING), "
        "CASE WHEN o_orderkey % 2 = 0 THEN '.TEST:8080/o/' ELSE '.test/o/' END, "
        "CAST(o_orderkey AS STRING), repeat('/', CAST(o_orderkey % 3 AS INT)), "
        "CASE WHEN o_orderkey % 4 = 0 THEN '?b=2&a=1' ELSE '' END, "
        "CASE WHEN o_orderkey % 5 = 0 THEN '#frag' ELSE '' END)"
    )
    u = o.select("o_orderkey", F.expr(build).alias("url"))
    return u.withColumn("url_canon_full", udfs.canon_full_udf(F.col("url")))


_CANON_FULL_SQL = """
WITH u AS (
  SELECT o_orderkey,
         concat('http://H', CAST(o_orderkey % 7 AS VARCHAR),
                CASE WHEN o_orderkey % 2 = 0 THEN '.TEST:8080/o/' ELSE '.test/o/' END,
                CAST(o_orderkey AS VARCHAR), repeat('/', CAST(o_orderkey % 3 AS INT)),
                CASE WHEN o_orderkey % 4 = 0 THEN '?b=2&a=1' ELSE '' END,
                CASE WHEN o_orderkey % 5 = 0 THEN '#frag' ELSE '' END) AS url
  FROM orders
)
SELECT o_orderkey, url,
       concat('http://h', CAST(o_orderkey % 7 AS VARCHAR), '.test/o/',
              CAST(o_orderkey AS VARCHAR),
              CASE WHEN o_orderkey % 4 = 0 THEN '?a=1&b=2' ELSE '' END) AS url_canon_full
FROM u
"""


def stream_seed_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Batch shape of ``streaming.seed_inbox_stream``'s sink (S1 as a
    stream): raw seed URLs -> REF canon (canon_ref_udf) -> host parse
    (url_parts_udf) -> first-occurrence dedupe (min raw url per canon
    key) -> deterministic ``ingest_seq`` by canon order.  URLs are
    constructed with heavy duplication (same canon target under varying
    trailing-slash forms) so the dedupe path is actually exercised; the
    DuckDB oracle recomputes canon with its own regex and the host from
    the construction directly — two independent parses agreeing."""
    o = T(spark, sf, "orders")
    build = (
        "concat('http://h', CAST((o_orderkey % 997) % 7 AS STRING), '.test/s/', "
        "CAST(o_orderkey % 997 AS STRING), repeat('/', CAST(o_orderkey % 3 AS INT)))"
    )
    rows = (
        o.select(F.expr(build).alias("url"))
        .withColumn("url_canon", udfs.canon_ref_udf(F.col("url")))
        .withColumn("_p", udfs.url_parts_udf(F.col("url")))
        .withColumn("host", F.col("_p.host"))
        .drop("_p")
    )
    dedup = rows.groupBy("url_canon").agg(
        F.min_by("url", "url").alias("url"), F.first("host").alias("host")
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("url_canon")
    return dedup.select(
        (F.row_number().over(w) - 1).cast("long").alias("ingest_seq"),
        "url",
        "url_canon",
        "host",
    )


_SEED_INGEST_SQL = """
WITH raw AS (
  SELECT concat('http://h', CAST((o_orderkey % 997) % 7 AS VARCHAR), '.test/s/',
                CAST(o_orderkey % 997 AS VARCHAR),
                repeat('/', CAST(o_orderkey % 3 AS INT))) AS url,
         concat('h', CAST((o_orderkey % 997) % 7 AS VARCHAR), '.test') AS host
  FROM orders
),
canon AS (
  SELECT url, host,
         regexp_replace(url,
           '^([A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*)([^?#]*?)/*(\\?[^#]*)?(#.*)?$',
           '\\1\\2\\3\\4') AS url_canon
  FROM raw
),
dedup AS (
  SELECT url_canon, min(url) AS url, min(host) AS host
  FROM canon GROUP BY url_canon
)
SELECT CAST(row_number() OVER (ORDER BY url_canon) - 1 AS BIGINT) AS ingest_seq,
       url, url_canon, host
FROM dedup
"""


def _robots_bodies(spark: SparkSession, sf: str) -> DataFrame:
    """Synthetic per-host robots.txt bodies with foreign-agent groups,
    comments, blank lines, empty Disallow, and Crawl-delay — shared by
    robots_txt_parse and sitemap_robots_gate."""
    n = T(spark, sf, "nation")
    body = (
        "concat_ws('\\n', '# synthetic robots', 'User-agent: googlebot', "
        "'Disallow: /gbot', '', 'User-agent: *', "
        "CASE WHEN n_nationkey % 2 = 0 THEN 'Disallow: /private' ELSE 'Allow: /public' END, "
        "CASE WHEN n_nationkey % 3 = 0 THEN concat('Crawl-delay: ', CAST(n_nationkey % 5 + 1 AS STRING)) ELSE '' END, "
        "CASE WHEN n_nationkey % 4 = 0 THEN 'Disallow:' ELSE 'Disallow: /tmp # inline' END)"
    )
    return n.select(
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string"), F.lit(".test")).alias("host"),
        F.expr(body).alias("body"),
    )


def robots_txt_parse(spark: SparkSession, sf: str) -> DataFrame:
    """X3 raw robots.txt parsing (robots.parse_robots_txt): synthetic
    per-host bodies parsed JVM-side with a running ``last`` window for
    group tracking.  The DuckDB oracle re-parses the same bodies with
    its own split + IGNORE NULLS window."""
    from .. import robots as robots_mod

    return robots_mod.parse_robots_txt(_robots_bodies(spark, sf))


_ROBOTS_PARSE_SQL = """
WITH bodies AS (
  SELECT concat('n', CAST(n_nationkey AS VARCHAR), '.test') AS host,
         concat_ws(chr(10), '# synthetic robots', 'User-agent: googlebot',
                   'Disallow: /gbot', '', 'User-agent: *',
                   CASE WHEN n_nationkey % 2 = 0 THEN 'Disallow: /private' ELSE 'Allow: /public' END,
                   CASE WHEN n_nationkey % 3 = 0 THEN concat('Crawl-delay: ', CAST(n_nationkey % 5 + 1 AS VARCHAR)) ELSE '' END,
                   CASE WHEN n_nationkey % 4 = 0 THEN 'Disallow:' ELSE 'Disallow: /tmp # inline' END) AS body
  FROM nation
),
lines AS (
  SELECT host, pos, trim(regexp_replace(raw, '#.*$', '')) AS line
  FROM (SELECT host, unnest(string_split(body, chr(10))) AS raw,
               generate_subscripts(string_split(body, chr(10)), 1) AS pos
        FROM bodies)
),
parsed AS (
  SELECT host, pos,
         lower(trim(regexp_extract(line, '^([^:]*):', 1))) AS k,
         trim(regexp_extract(line, '^[^:]*:(.*)$', 1)) AS v
  FROM lines WHERE line <> '' AND line LIKE '%:%'
),
star AS (
  SELECT * FROM (
    SELECT host, k, v,
           last_value(CASE WHEN k = 'user-agent' THEN v END IGNORE NULLS)
             OVER (PARTITION BY host ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ua
    FROM parsed)
  WHERE ua = '*'
),
delays AS (
  SELECT host, max(CAST(v AS DOUBLE)) AS crawl_delay
  FROM star WHERE k = 'crawl-delay' GROUP BY host
),
rules AS (
  SELECT host, v AS rule_prefix, (k = 'allow') AS allow
  FROM star WHERE k IN ('allow', 'disallow') AND v <> ''
),
carrier AS (
  SELECT host, '' AS rule_prefix, TRUE AS allow FROM delays
  WHERE host NOT IN (SELECT DISTINCT host FROM rules)
)
SELECT r.host, r.rule_prefix, r.allow, d.crawl_delay
FROM (SELECT * FROM rules UNION ALL SELECT * FROM carrier) r
LEFT JOIN delays d USING (host)
"""


# ---------------------------------------------------------------------------
# P4 same-host filter + X1 link extraction
# ---------------------------------------------------------------------------


def same_host_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Keep links whose host equals the page host — exact, case-sensitive
    (main_functions.go:145); unparsable links drop (null host)."""
    o = T(spark, sf, "orders")
    pairs = o.select(
        "o_orderkey",
        F.expr(
            "concat('http://h', CAST(o_custkey % 5 AS STRING), '.test/page')"
        ).alias("page_url"),
        F.expr(
            "CASE WHEN o_orderkey % 4 = 0 THEN concat('http://h', CAST(o_custkey % 5 AS STRING), '.test/next') "
            "     WHEN o_orderkey % 4 = 1 THEN concat('http://h', CAST((o_custkey + 1) % 5 AS STRING), '.test/x') "
            "     WHEN o_orderkey % 4 = 2 THEN concat('http://H', CAST(o_custkey % 5 AS STRING), '.TEST/case') "
            "     ELSE 'notaurl' END"
        ).alias("link"),
    )
    kept = pairs.withColumn("page_host", udfs.host_of_udf(F.col("page_url"))).withColumn(
        "link_host", udfs.host_of_udf(F.col("link"))
    )
    return kept.filter(F.col("link_host") == F.col("page_host")).select(
        "o_orderkey", "page_url", "link"
    )


_SAMEHOST_SQL = """
WITH pairs AS (
  SELECT o_orderkey,
         concat('http://h', CAST(o_custkey % 5 AS VARCHAR), '.test/page') AS page_url,
         CASE WHEN o_orderkey % 4 = 0 THEN concat('http://h', CAST(o_custkey % 5 AS VARCHAR), '.test/next')
              WHEN o_orderkey % 4 = 1 THEN concat('http://h', CAST((o_custkey + 1) % 5 AS VARCHAR), '.test/x')
              WHEN o_orderkey % 4 = 2 THEN concat('http://H', CAST(o_custkey % 5 AS VARCHAR), '.TEST/case')
              ELSE 'notaurl' END AS link
  FROM orders
)
SELECT o_orderkey, page_url, link FROM pairs
WHERE regexp_extract(link, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/:?#]*)', 1)
      = regexp_extract(page_url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/:?#]*)', 1)
  AND regexp_extract(link, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/:?#]*)', 1) <> ''
"""


def link_extract_explode(spark: SparkSession, sf: str) -> DataFrame:
    """X1: ordered href extraction + posexplode (DOM order ->
    link_idx), JVM-side regexp (no Python)."""
    p = T(spark, sf, "part")
    cap = p.select(
        "p_partkey",
        F.expr(
            "concat('see href=\"http://h', CAST(p_partkey % 5 AS STRING), '.test/a', CAST(p_partkey AS STRING), "
            "'\" mid href=\"http://h', CAST(p_partkey % 5 AS STRING), '.test/b', CAST(p_size AS STRING), '\" end')"
        ).alias("caption"),
    )
    links = cap.select(
        "p_partkey",
        F.posexplode(F.expr("regexp_extract_all(caption, 'href=\"([^\"]*)\"', 1)")).alias(
            "link_idx", "link"
        ),
    )
    return links


_EXTRACT_SQL = """
WITH cap AS (
  SELECT p_partkey,
         concat('see href="http://h', CAST(p_partkey % 5 AS VARCHAR), '.test/a', CAST(p_partkey AS VARCHAR),
                '" mid href="http://h', CAST(p_partkey % 5 AS VARCHAR), '.test/b', CAST(p_size AS VARCHAR), '" end') AS caption
  FROM part
), ex AS (
  SELECT p_partkey, regexp_extract_all(caption, 'href="([^"]*)"', 1) AS links FROM cap
)
SELECT p_partkey,
       unnest(generate_series(0, len(links) - 1)) AS link_idx,
       unnest(links) AS link
FROM ex
"""


# ---------------------------------------------------------------------------
# A2 metrics rollup + streaming-style tumbling window
# ---------------------------------------------------------------------------


def metrics_rollup(spark: SparkSession, sf: str) -> DataFrame:
    e = T(spark, sf, "events")
    return (
        e.groupBy("event_type", F.to_date(F.col("ts")).alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


_METRICS_SQL = """
SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
       count(*) AS n, count(DISTINCT user_id) AS users,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY event_type, date_trunc('day', ts)
"""


def event_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling 1-hour window agg — the batch shape of the streaming
    frontier-metrics pipeline (grabspark.streaming runs the same logical
    plan with readStream + watermark)."""
    e = T(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n", "sum_value")
    )


_WINDOW_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


# --- X3 companion: sitemap.xml parsing --------------------------------------
#
# The discovery-side twin of robots_txt_parse: per-host sitemap bodies
# (synthesized deterministically from the customer table, same device as
# the robots query) parsed back into (host, pos, loc, lastmod, priority)
# rows with JVM regexp_extract_all + one posexplode — the shape that
# seeds the frontier from sitemaps at scale (a pure map over fetched
# sitemap bodies; the explode fans out to one row per URL with document
# order preserved in pos).


def sitemap_parse(spark: SparkSession, sf: str) -> DataFrame:
    c = T(spark, sf, "customer").select(
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string"), F.lit(".test")).alias(
            "host"
        ),
        "c_custkey",
        F.expr(
            "concat('<url><loc>http://n', CAST(c_nationkey AS STRING), '.test/c', "
            "CAST(c_custkey AS STRING), '</loc><lastmod>2026-0', "
            "CAST(c_custkey % 9 + 1 AS STRING), '-1', CAST(c_custkey % 3 AS STRING), "
            "'</lastmod><priority>0.', CAST(c_custkey % 10 AS STRING), "
            "'</priority></url>')"
        ).alias("entry"),
    )
    bodies = c.groupBy("host").agg(
        F.expr(
            "concat('<?xml version=\"1.0\"?><urlset>', "
            "concat_ws('', transform(array_sort(collect_list(struct(c_custkey, entry))), "
            "s -> s.entry)), '</urlset>')"
        ).alias("body")
    )
    z = bodies.select(
        "host",
        F.expr("regexp_extract_all(body, '<loc>([^<]*)</loc>', 1)").alias("locs"),
        F.expr("regexp_extract_all(body, '<lastmod>([^<]*)</lastmod>', 1)").alias("mods"),
        F.expr("regexp_extract_all(body, '<priority>([^<]*)</priority>', 1)").alias(
            "prios"
        ),
    )
    return z.select(
        "host", F.posexplode(F.arrays_zip("locs", "mods", "prios")).alias("pos", "s")
    ).select(
        "host",
        F.col("pos").cast("int").alias("pos"),
        F.col("s.locs").alias("loc"),
        F.col("s.mods").alias("lastmod"),
        F.col("s.prios").alias("priority"),
    )


_SITEMAP_SQL = """
WITH ent AS (
  SELECT concat('n', CAST(c_nationkey AS VARCHAR), '.test') AS host, c_custkey,
         concat('<url><loc>http://n', CAST(c_nationkey AS VARCHAR), '.test/c',
                CAST(c_custkey AS VARCHAR), '</loc><lastmod>2026-0',
                CAST(c_custkey % 9 + 1 AS VARCHAR), '-1', CAST(c_custkey % 3 AS VARCHAR),
                '</lastmod><priority>0.', CAST(c_custkey % 10 AS VARCHAR),
                '</priority></url>') AS entry
  FROM customer
),
bodies AS (
  SELECT host, concat('<?xml version="1.0"?><urlset>',
                      string_agg(entry, '' ORDER BY c_custkey), '</urlset>') AS body
  FROM ent GROUP BY host
),
z AS (
  SELECT host,
         regexp_extract_all(body, '<loc>([^<]*)</loc>', 1) AS locs,
         regexp_extract_all(body, '<lastmod>([^<]*)</lastmod>', 1) AS mods,
         regexp_extract_all(body, '<priority>([^<]*)</priority>', 1) AS prios
  FROM bodies
)
SELECT host, CAST(i - 1 AS INT) AS pos, locs[i] AS loc, mods[i] AS lastmod,
       prios[i] AS priority
FROM z, LATERAL (SELECT unnest(generate_series(1, len(locs))) AS i) g
"""


# --- sitemap -> robots discovery chain ------------------------------------------
#
# The composed discovery path a crawl actually runs: URLs surfaced by
# sitemaps are admitted to the frontier only after the host's robots
# rules allow them (RFC 9309 longest-match precedence), and each
# admitted URL carries the host's crawl-delay for the politeness queue.
# The Spark side runs the REAL machinery end-to-end — raw robots bodies
# -> robots.parse_robots_txt -> robots.apply_robots (anchored-regex
# longest-match) -> robots.host_delays — over a frontier whose paths
# deliberately hit every rule branch (/private blocked on even hosts,
# /public allow-listed on odd, /tmp blocked except where Disallow: is
# empty, /c unmatched -> default allow).  The DuckDB oracle is the
# CLOSED FORM of those decisions from the fixture construction — fully
# independent of the parser and matcher.
#
# 100 TB shape: rules are host-sized (broadcast inside apply_robots);
# the frontier is never shuffled except apply_robots' own groupBy
# (host, url) longest-match reduce.


def sitemap_robots_gate(spark: SparkSession, sf: str) -> DataFrame:
    """(host, url_canon, crawl_delay) — sitemap-discovered URLs that
    survive the host's robots rules, with the politeness delay
    attached."""
    from .. import robots as robots_mod

    rules = robots_mod.parse_robots_txt(_robots_bodies(spark, sf))
    c = T(spark, sf, "customer")
    frontier = c.select(
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string"), F.lit(".test")).alias(
            "host"
        ),
        F.expr(
            "concat('http://n', CAST(c_nationkey AS STRING), '.test/', "
            "element_at(array('private', 'public', 'tmp', 'c'), "
            "CAST(c_custkey % 4 AS INT) + 1), '/', CAST(c_custkey AS STRING))"
        ).alias("url_canon"),
    )
    allowed = robots_mod.apply_robots(frontier, rules)
    delays = robots_mod.host_delays(rules, default_delay=0.0)
    return allowed.join(F.broadcast(delays), "host", "left").select(
        "host", "url_canon", F.coalesce("crawl_delay", F.lit(0.0)).alias("crawl_delay")
    )


_SITEMAP_GATE_SQL = """
WITH frontier AS (
  SELECT c_nationkey AS nk, c_custkey AS ck,
         concat('n', CAST(c_nationkey AS VARCHAR), '.test') AS host,
         concat('http://n', CAST(c_nationkey AS VARCHAR), '.test/',
                CASE CAST(c_custkey % 4 AS INT) WHEN 0 THEN 'private'
                     WHEN 1 THEN 'public' WHEN 2 THEN 'tmp' ELSE 'c' END,
                '/', CAST(c_custkey AS VARCHAR)) AS url_canon
  FROM customer
)
SELECT host, url_canon,
       CASE WHEN nk % 3 = 0 THEN CAST(nk % 5 + 1 AS DOUBLE) ELSE 0.0 END AS crawl_delay
FROM frontier
WHERE CASE CAST(ck % 4 AS INT)
        WHEN 0 THEN nk % 2 <> 0          -- /private: Disallow on even hosts
        WHEN 2 THEN nk % 4 = 0           -- /tmp: Disallow except empty-Disallow hosts
        ELSE TRUE                        -- /public allow-listed, /c unmatched
      END
"""


# --- mirror-host detection -------------------------------------------------------
#
# Crawl mirror elimination (Bharat & Broder, WWW 1999 — public): two
# hosts serving largely the same page set should be crawled once, not
# twice.  Host-pair content overlap via the inverted-index shape (the
# same device as the ngram-Jaccard dedupe): page fingerprints ->
# (fp, host) postings -> per-fp host pairs -> groupBy pair count ->
# similarity vs per-host page counts.  The fixture derives page
# fingerprints from a shared content keyspace so some host pairs are
# near-mirrors (same o_orderkey residues) and others overlap only by
# chance.
#
# 100 TB shape: the postings self-join is bounded per fingerprint by
# the number of hosts serving that page (mirror candidates), not corpus
# size; a production run samples K fingerprints per host first (the
# paper's shingle sampling) — the pair-count rollup and similarity math
# are unchanged by that sampling, which is why this query grades the
# rollup exactly.

_MIRROR_MIN_SIM_PCT = 50


def mirror_host_detect(spark: SparkSession, sf: str) -> DataFrame:
    """(host_a, host_b, shared, pages_a, pages_b, sim_pct) for host
    pairs sharing >= _MIRROR_MIN_SIM_PCT% of the smaller host's pages."""
    o = T(spark, sf, "orders")
    # mirrors by construction: hosts m0/m4, m1/m5, ... serve the same
    # content residue class (ck % 4), plus a shared '/common' page set
    pages = o.select(
        F.expr("concat('m', CAST(o_orderkey % 8 AS STRING), '.test')").alias("host"),
        F.expr(
            "CASE WHEN o_orderkey % 11 = 0 THEN concat('common', CAST(o_orderkey % 7 AS STRING)) "
            "ELSE concat('c', CAST(o_orderkey % 4 AS STRING), '-', CAST(o_orderkey % 199 AS STRING)) END"
        ).alias("content_key"),
    ).distinct()
    posts = pages.select("host", F.md5("content_key").alias("fp"))
    per_host = posts.groupBy("host").agg(F.count("*").alias("pages"))
    a, b = posts.alias("a"), posts.alias("b")
    shared = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.host") < F.col("b.host")))
        .groupBy(F.col("a.host").alias("host_a"), F.col("b.host").alias("host_b"))
        .agg(F.count("*").alias("shared"))
    )
    pa = per_host.select(F.col("host").alias("host_a"), F.col("pages").alias("pages_a"))
    pb = per_host.select(F.col("host").alias("host_b"), F.col("pages").alias("pages_b"))
    return (
        shared.join(F.broadcast(pa), "host_a")
        .join(F.broadcast(pb), "host_b")
        .withColumn(
            "sim_pct",
            F.expr("CAST(shared * 100 DIV least(pages_a, pages_b) AS INT)"),
        )
        .filter(F.col("sim_pct") >= _MIRROR_MIN_SIM_PCT)
        .select("host_a", "host_b", "shared", "pages_a", "pages_b", "sim_pct")
    )


_MIRROR_SQL = f"""
WITH pages AS (
  SELECT DISTINCT concat('m', CAST(o_orderkey % 8 AS VARCHAR), '.test') AS host,
         CASE WHEN o_orderkey % 11 = 0 THEN concat('common', CAST(o_orderkey % 7 AS VARCHAR))
              ELSE concat('c', CAST(o_orderkey % 4 AS VARCHAR), '-', CAST(o_orderkey % 199 AS VARCHAR)) END AS content_key
  FROM orders
),
posts AS (SELECT host, md5(content_key) AS fp FROM pages),
per_host AS (SELECT host, count(*) AS pages FROM posts GROUP BY host),
shared AS (
  SELECT a.host AS host_a, b.host AS host_b, count(*) AS shared
  FROM posts a JOIN posts b ON a.fp = b.fp AND a.host < b.host
  GROUP BY a.host, b.host
)
SELECT s.host_a, s.host_b, s.shared, pa.pages AS pages_a, pb.pages AS pages_b,
       CAST(s.shared * 100 // least(pa.pages, pb.pages) AS INT) AS sim_pct
FROM shared s
JOIN per_host pa ON pa.host = s.host_a
JOIN per_host pb ON pb.host = s.host_b
WHERE s.shared * 100 // least(pa.pages, pb.pages) >= {_MIRROR_MIN_SIM_PCT}
"""


# --- registered-domain (eTLD+1) budget rollup ------------------------------------
#
# Host-level politeness is not enough: a.blogspot.com and b.blogspot.com
# are one SITE behind one origin, and budgeting them independently
# multiplies the site's load by its subdomain count (the classic crawler
# mistake the public-suffix list exists to prevent).  The rollup
# extracts the registered domain — last 2 labels, or last 3 when the
# host ends in a listed 2-label public suffix (co.uk-style) — and
# divides one domain budget fairly across its live hosts.
#
# 100 TB shape: the extraction is a pure JVM string map; the rollup is
# ONE partial-agg groupBy(domain) (domains ~ sites, far fewer than
# hosts/URLs).  A real deployment swaps the inline 2-label sample for
# the full public-suffix list as a broadcast set — same plan.

_SUFFIX2 = ("co.uk", "com.au")  # public-suffix sample (2-label suffixes)
_DOMAIN_BUDGET = 120


def _reg_domain_expr(host_col: str) -> str:
    cond = " OR ".join(
        f"{host_col} LIKE '%.{s}'" for s in _SUFFIX2
    )
    parts = f"split({host_col}, '\\\\.')"
    return (
        f"CASE WHEN {cond} THEN array_join(slice({parts}, size({parts}) - 2, 3), '.') "
        f"ELSE array_join(slice({parts}, size({parts}) - 1, 2), '.') END"
    )


def domain_budget_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """(reg_domain, n_hosts, n_urls, per_host_budget): one
    _DOMAIN_BUDGET shared by every host of the registered domain
    (floor division; hosts-count capped at the budget)."""
    o = T(spark, sf, "orders")
    urls = o.select(
        F.expr(
            "concat('s', CAST(o_orderkey % 13 AS STRING), '.', "
            "element_at(array('shared.co.uk', 'example.com', 'pages.dev', "
            "'corp.com.au', 'site.test'), CAST(o_orderkey % 5 AS INT) + 1))"
        ).alias("host")
    )
    tagged = urls.withColumn("reg_domain", F.expr(_reg_domain_expr("host")))
    return tagged.groupBy("reg_domain").agg(
        F.countDistinct("host").alias("n_hosts"),
        F.count("*").alias("n_urls"),
        F.expr(
            f"CAST({_DOMAIN_BUDGET} DIV greatest(count(DISTINCT host), 1) AS BIGINT)"
        ).alias("per_host_budget"),
    )


_DOMAIN_SQL = f"""
WITH urls AS (
  SELECT concat('s', CAST(o_orderkey % 13 AS VARCHAR), '.',
                CASE CAST(o_orderkey % 5 AS INT)
                  WHEN 0 THEN 'shared.co.uk' WHEN 1 THEN 'example.com'
                  WHEN 2 THEN 'pages.dev' WHEN 3 THEN 'corp.com.au'
                  ELSE 'site.test' END) AS host
  FROM orders
),
tagged AS (
  SELECT host,
         CASE WHEN host LIKE '%.co.uk' OR host LIKE '%.com.au'
              THEN array_to_string(list_slice(string_split(host, '.'),
                     len(string_split(host, '.')) - 2, len(string_split(host, '.'))), '.')
              ELSE array_to_string(list_slice(string_split(host, '.'),
                     len(string_split(host, '.')) - 1, len(string_split(host, '.'))), '.')
         END AS reg_domain
  FROM urls
)
SELECT reg_domain, count(DISTINCT host) AS n_hosts, count(*) AS n_urls,
       CAST({_DOMAIN_BUDGET} // greatest(count(DISTINCT host), 1) AS BIGINT) AS per_host_budget
FROM tagged GROUP BY reg_domain
"""


# --- tracking-parameter stripping ------------------------------------------------
#
# Tracking params (utm_*, gclid, fbclid, ref) multiply one page into
# thousands of frontier URLs — the single biggest avoidable URL-space
# explosion a crawler meets (NR-EXT beyond F1/canon_full, which sorts
# params but keeps them).  The op strips the tracking keys, re-sorts
# the survivors, and rolls up how many raw variants collapse onto each
# clean target — all JVM array ops (split/filter/sort/join), one
# partial-agg groupBy(clean_url).

_TRACKING_RE = "^(utm_[a-z]+|gclid|fbclid|ref)=.*"


def url_strip_tracking(spark: SparkSession, sf: str) -> DataFrame:
    """(clean_url, n_variants, first_url): frontier URLs collapsed by
    tracking-parameter removal; first_url = min raw variant."""
    o = T(spark, sf, "orders")
    raw = o.select(
        F.expr(
            "concat('http://t', CAST(o_orderkey % 5 AS STRING), '.test/p', "
            "CAST(o_orderkey % 97 AS STRING), "
            "CASE CAST(o_orderkey % 4 AS INT) "
            "  WHEN 0 THEN concat('?utm_source=s', CAST(o_orderkey % 3 AS STRING), '&id=7') "
            "  WHEN 1 THEN concat('?gclid=g', CAST(o_orderkey % 11 AS STRING)) "
            "  WHEN 2 THEN concat('?id=7&utm_campaign=c', CAST(o_orderkey % 2 AS STRING), '&ref=r') "
            "  ELSE '?id=7' END)"
        ).alias("url")
    )
    split = raw.select(
        "url",
        F.expr("split(url, '\\\\?', 2)[0]").alias("base"),
        F.expr(
            "array_sort(filter(split(coalesce(split(url, '\\\\?', 2)[1], ''), '&'), "
            f"x -> x != '' AND NOT x RLIKE '{_TRACKING_RE}'))"
        ).alias("kept"),
    )
    clean = split.select(
        "url",
        F.expr(
            "concat(base, CASE WHEN size(kept) > 0 THEN concat('?', array_join(kept, '&')) ELSE '' END)"
        ).alias("clean_url"),
    )
    return clean.groupBy("clean_url").agg(
        F.countDistinct("url").alias("n_variants"),
        F.min("url").alias("first_url"),
    )


_STRIP_SQL = """
WITH raw AS (
  SELECT concat('http://t', CAST(o_orderkey % 5 AS VARCHAR), '.test/p',
                CAST(o_orderkey % 97 AS VARCHAR),
                CASE CAST(o_orderkey % 4 AS INT)
                  WHEN 0 THEN concat('?utm_source=s', CAST(o_orderkey % 3 AS VARCHAR), '&id=7')
                  WHEN 1 THEN concat('?gclid=g', CAST(o_orderkey % 11 AS VARCHAR))
                  WHEN 2 THEN concat('?id=7&utm_campaign=c', CAST(o_orderkey % 2 AS VARCHAR), '&ref=r')
                  ELSE '?id=7' END) AS url
  FROM orders
),
split AS (
  SELECT url, string_split(url, '?')[1] AS base,
         list_sort(list_filter(string_split(coalesce(string_split(url, '?')[2], ''), '&'),
                   x -> x <> '' AND NOT regexp_matches(x, '^(utm_[a-z]+|gclid|fbclid|ref)=.*'))) AS kept
  FROM raw
),
clean AS (
  SELECT url, concat(base, CASE WHEN len(kept) > 0
                                THEN concat('?', array_to_string(kept, '&')) ELSE '' END) AS clean_url
  FROM split
)
SELECT clean_url, count(DISTINCT url) AS n_variants, min(url) AS first_url
FROM clean GROUP BY clean_url
"""


# --- robots fetch-failure policy -------------------------------------------------
#
# RFC 9309 §2.3.1 "Unavailable" / "Unreachable" semantics — the robots
# behavior crawls get wrong most often: a 4xx robots.txt means the site
# has NO robots file (crawl everything), while a 5xx/timeout means the
# crawler MUST assume complete disallow until a fresh fetch succeeds
# (stale cached rules may be reused within 24h; modeled as cache_age).
# The op derives each host's effective policy from its robots-fetch
# outcome; the oracle is the closed form of the spec table.

_ROBOTS_CACHE_TTL_H = 24


def robots_failure_policy(spark: SparkSession, sf: str) -> DataFrame:
    """(host, status, cache_age_h, policy): policy in
    {'parse_rules', 'allow_all', 'use_cached', 'deny_all'}."""
    n = T(spark, sf, "nation")
    outcomes = n.select(
        F.concat(F.lit("r"), F.col("n_nationkey").cast("string"), F.lit(".test")).alias(
            "host"
        ),
        F.expr(
            "element_at(array(200, 404, 403, 503, 500, 429), "
            "CAST(n_nationkey % 6 AS INT) + 1)"
        ).alias("status"),
        F.expr("CAST(n_nationkey * 7 % 40 AS INT)").alias("cache_age_h"),
    )
    return outcomes.withColumn(
        "policy",
        F.expr(
            "CASE WHEN status < 300 THEN 'parse_rules' "
            "WHEN status >= 400 AND status < 500 AND status != 429 THEN 'allow_all' "
            f"WHEN cache_age_h < {_ROBOTS_CACHE_TTL_H} THEN 'use_cached' "
            "ELSE 'deny_all' END"
        ),
    )


_ROBOTS_POLICY_SQL = f"""
SELECT host, status, cache_age_h,
       CASE WHEN status < 300 THEN 'parse_rules'
            WHEN status >= 400 AND status < 500 AND status <> 429 THEN 'allow_all'
            WHEN cache_age_h < {_ROBOTS_CACHE_TTL_H} THEN 'use_cached'
            ELSE 'deny_all' END AS policy
FROM (
  SELECT concat('r', CAST(n_nationkey AS VARCHAR), '.test') AS host,
         CASE CAST(n_nationkey % 6 AS INT) WHEN 0 THEN 200 WHEN 1 THEN 404
              WHEN 2 THEN 403 WHEN 3 THEN 503 WHEN 4 THEN 500 ELSE 429 END AS status,
         CAST(n_nationkey * 7 % 40 AS INT) AS cache_age_h
  FROM nation
)
"""


# --- re-crawl prioritization --------------------------------------------------
#
# The scheduling policy a continuous crawl runs over its fetch log: hosts
# are re-visited in order of (staleness x observed change rate).  The
# events fixture stands in for the fetch log (host = hashed user_id,
# event_type diversity = change proxy).  All integer arithmetic; the
# anchor-diff micros device is shared with sessionize_events so the time
# math is TZ-independent and engine-exact.
#
# 100 TB shape: one partial-agg groupBy(host) over the log scan, a
# broadcast of the single global-max row, and a rank whose Partial
# WindowGroupLimit caps map output — the log itself is never shuffled
# twice and never sorted globally.

_RECRAWL_TOP = 100


def recrawl_priority(spark: SparkSession, sf: str) -> DataFrame:
    e = T(spark, sf, "events").select(
        F.expr("concat('h', CAST(user_id % 200 AS STRING))").alias("host"),
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
        ).alias("us"),
    )
    per = e.groupBy("host").agg(
        F.count("*").alias("n_fetches"),
        F.countDistinct("event_type").alias("n_types"),
        F.max("us").alias("last_us"),
    )
    gmax = e.agg(F.max("us").alias("g_us"))
    scored = (
        per.crossJoin(F.broadcast(gmax))
        .withColumn("age_min", F.expr("(g_us - last_us) DIV 60000000"))
        .withColumn("priority", F.expr("age_min * n_types"))
    )
    w = Window.orderBy(F.desc("priority"), F.asc("host"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _RECRAWL_TOP)
        .select(
            "host", "n_fetches", "n_types", "age_min", "priority",
            F.col("rk").cast("int").alias("rk"),
        )
    )


_RECRAWL_SQL = f"""
WITH e AS (
  SELECT concat('h', CAST(user_id % 200 AS VARCHAR)) AS host, event_type,
         epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01') AS us
  FROM events
),
per AS (
  SELECT host, count(*) AS n_fetches, count(DISTINCT event_type) AS n_types,
         max(us) AS last_us
  FROM e GROUP BY host
),
scored AS (
  SELECT host, n_fetches, n_types,
         (g.g_us - last_us) // 60000000 AS age_min,
         ((g.g_us - last_us) // 60000000) * n_types AS priority
  FROM per CROSS JOIN (SELECT max(us) AS g_us FROM e) g
)
SELECT host, CAST(n_fetches AS BIGINT) AS n_fetches,
       CAST(n_types AS BIGINT) AS n_types,
       CAST(age_min AS BIGINT) AS age_min,
       CAST(priority AS BIGINT) AS priority,
       CAST(rk AS INT) AS rk
FROM (
  SELECT *, row_number() OVER (ORDER BY priority DESC, host ASC) AS rk
  FROM scored
) WHERE rk <= {_RECRAWL_TOP}
"""


# --- URL-template mining / crawl-trap detection -------------------------------
#
# Production crawlers mine URL templates (digit runs collapsed to a
# placeholder) from the frontier to find infinite URL spaces — calendar
# pages, session-id tags, pagination — and cap per-template budget before
# the frontier drowns in them (the reference has no defense: it enqueues
# every same-host link, main_functions.go:62-66).  Synthetic frontier from
# the orders fixture: a calendar trap (/cal/Y/M/D — unbounded distinct
# URLs, one template), a paginated tag trap, and legit article/about pages.
#
# 100 TB shape: scan -> JVM regexp projection -> two-phase distinct agg on
# (host, template) -> top-k via TakeOrderedAndProject (map-side partial
# top-100, no global sort).  The frontier is never joined or collected;
# everything after the scan is codegen string/integer ops.

_TRAP_TOP = 100
_TRAP_MIN_DISTINCT = 20  # templates below this are not traps at any scale


def url_template_mining(spark: SparkSession, sf: str) -> DataFrame:
    o = T(spark, sf, "orders")
    urls = o.select(
        F.expr("concat('h', CAST(o_custkey % 20 AS STRING))").alias("host"),
        F.expr(
            "CASE WHEN o_orderkey % 5 IN (0, 1) THEN "
            "  concat('/cal/2024/', CAST(o_orderkey % 12 + 1 AS STRING), '/', CAST(o_orderkey % 28 + 1 AS STRING)) "
            "WHEN o_orderkey % 5 = 2 THEN concat('/article/', CAST(o_orderkey AS STRING)) "
            "WHEN o_orderkey % 5 = 3 THEN '/about' "
            "ELSE concat('/tag/', CAST(o_orderkey % 7 AS STRING), '/page/', CAST(o_orderkey % 97 AS STRING)) END"
        ).alias("path"),
    )
    tpl = urls.select(
        "host",
        "path",
        F.regexp_replace("path", "[0-9]+", "N").alias("template"),
    )
    per = tpl.groupBy("host", "template").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("path").alias("n_distinct"),
    )
    scored = per.select(
        "host",
        "template",
        "n_urls",
        "n_distinct",
        (F.size(F.split("template", "/")) - F.lit(1)).cast("int").alias("depth"),
        (
            (F.col("n_distinct") >= _TRAP_MIN_DISTINCT)
            & F.col("template").contains("N")
        ).alias("is_trap"),
    )
    w = Window.orderBy(
        F.desc("n_distinct"), F.desc("n_urls"), F.asc("host"), F.asc("template")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _TRAP_TOP)
    )


_TRAP_SQL = f"""
WITH urls AS (
  SELECT concat('h', CAST(o_custkey % 20 AS VARCHAR)) AS host,
         CASE WHEN o_orderkey % 5 IN (0, 1) THEN
                concat('/cal/2024/', CAST(o_orderkey % 12 + 1 AS VARCHAR), '/', CAST(o_orderkey % 28 + 1 AS VARCHAR))
              WHEN o_orderkey % 5 = 2 THEN concat('/article/', CAST(o_orderkey AS VARCHAR))
              WHEN o_orderkey % 5 = 3 THEN '/about'
              ELSE concat('/tag/', CAST(o_orderkey % 7 AS VARCHAR), '/page/', CAST(o_orderkey % 97 AS VARCHAR)) END AS path
  FROM orders
),
tpl AS (
  SELECT host, path, regexp_replace(path, '[0-9]+', 'N', 'g') AS template
  FROM urls
),
per AS (
  SELECT host, template,
         CAST(count(*) AS BIGINT) AS n_urls,
         CAST(count(DISTINCT path) AS BIGINT) AS n_distinct
  FROM tpl GROUP BY host, template
),
scored AS (
  SELECT host, template, n_urls, n_distinct,
         CAST(len(str_split(template, '/')) - 1 AS INT) AS depth,
         (n_distinct >= {_TRAP_MIN_DISTINCT} AND contains(template, 'N')) AS is_trap
  FROM per
)
SELECT host, template, n_urls, n_distinct, depth, is_trap, CAST(rk AS INT) AS rk
FROM (
  SELECT *, row_number() OVER (
    ORDER BY n_distinct DESC, n_urls DESC, host ASC, template ASC) AS rk
  FROM scored
) WHERE rk <= {_TRAP_TOP}
"""


# --- snapshot diff (incremental re-crawl) --------------------------------------
#
# A continuous crawl compares consecutive store snapshots to find what
# changed — the added/removed/changed page sets drive re-crawl priority
# and downstream incremental processing (the reference truncates and
# refetches everything, main_functions.go:28-31; a 100 TB store cannot).
# Two deterministic snapshot versions are synthesized from orders: v2
# removes 10% of v1's pages, adds a disjoint 10%, and rewrites the
# content signature of ~1/7 of the survivors.
#
# 100 TB shape: NO join — the two snapshots union with a side tag and one
# groupBy(url) computes both sides' signatures via conditional aggregates
# (map-side combine halves the shuffle), then a host-level rollup counts
# statuses.  Diffing via union+agg instead of full-outer-join means one
# shuffle of the combined snapshot instead of two sorted sides.

def frontier_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    o = T(spark, sf, "orders").select(
        "o_orderkey",
        F.expr("concat('h', CAST(o_custkey % 20 AS STRING))").alias("host"),
        F.expr(
            "concat('http://h', CAST(o_custkey % 20 AS STRING), '.test/p', CAST(o_orderkey AS STRING))"
        ).alias("url"),
        F.expr("o_orderkey * 31 + o_custkey").alias("sig"),
    )
    v1 = o.filter(F.expr("o_orderkey % 10 <> 9")).select(
        "host", "url", F.col("sig").alias("s"), F.lit(1).alias("side")
    )
    v2 = o.filter(F.expr("o_orderkey % 10 <> 0")).select(
        "host",
        "url",
        F.expr("CASE WHEN o_orderkey % 7 = 3 THEN sig + 1 ELSE sig END").alias("s"),
        F.lit(2).alias("side"),
    )
    both = v1.unionByName(v2)
    per_url = both.groupBy("host", "url").agg(
        F.max(F.expr("CASE WHEN side = 1 THEN s END")).alias("s1"),
        F.max(F.expr("CASE WHEN side = 2 THEN s END")).alias("s2"),
    )
    status = per_url.withColumn(
        "status",
        F.expr(
            "CASE WHEN s1 IS NULL THEN 'added' WHEN s2 IS NULL THEN 'removed' "
            "WHEN s1 <> s2 THEN 'changed' ELSE 'unchanged' END"
        ),
    )
    return (
        status.groupBy("host", "status")
        .agg(F.count("*").alias("n_pages"))
        .select("host", "status", "n_pages")
    )


_SNAPDIFF_SQL = """
WITH o AS (
  SELECT o_orderkey,
         concat('h', CAST(o_custkey % 20 AS VARCHAR)) AS host,
         concat('http://h', CAST(o_custkey % 20 AS VARCHAR), '.test/p', CAST(o_orderkey AS VARCHAR)) AS url,
         o_orderkey * 31 + o_custkey AS sig
  FROM orders
),
both_sides AS (
  SELECT host, url, sig AS s, 1 AS side FROM o WHERE o_orderkey % 10 <> 9
  UNION ALL
  SELECT host, url,
         CASE WHEN o_orderkey % 7 = 3 THEN sig + 1 ELSE sig END AS s, 2 AS side
  FROM o WHERE o_orderkey % 10 <> 0
),
per_url AS (
  SELECT host, url,
         max(CASE WHEN side = 1 THEN s END) AS s1,
         max(CASE WHEN side = 2 THEN s END) AS s2
  FROM both_sides GROUP BY host, url
)
SELECT host,
       CASE WHEN s1 IS NULL THEN 'added' WHEN s2 IS NULL THEN 'removed'
            WHEN s1 <> s2 THEN 'changed' ELSE 'unchanged' END AS status,
       CAST(count(*) AS BIGINT) AS n_pages
FROM per_url
GROUP BY host, status
"""


# --- WARC-style archive parsing ----------------------------------------------
#
# The crawl-archive source format: a page store on disk is a set of
# per-host archive blobs, each a concatenation of WARC-shaped records
# (version line, typed headers, blank line, payload).  The operator is
# the scan-side parser that turns archive blobs back into one typed row
# per record — the inverse of the export sink, and the standard ingest
# path for crawl corpora.  Bodies are synthesized deterministically from
# the customer table (same device as sitemap_parse/pii_scrub); the parse
# direction uses a DIFFERENT mechanism (regexp field extraction + zip +
# posexplode) than the construction (ordered string_agg of concats).
#
# 100 TB shape: pure map over the blob scan — regexp_extract_all + one
# posexplode, no shuffle after the (construction-only) per-host agg; at
# scale the blobs arrive pre-materialized and the parse is shuffle-free.
# All field patterns are \S-based so Java regex (Spark) and RE2 (DuckDB)
# agree without newline-escape games.

_WARC_REC_SPARK = (
    "concat('WARC/1.0', chr(10), 'WARC-Type: response', chr(10), "
    "'WARC-Target-URI: http://n', CAST(c_nationkey AS STRING), '.test/c', "
    "CAST(c_custkey AS STRING), chr(10), "
    "'WARC-Date: 2026-03-', lpad(CAST(c_custkey % 28 + 1 AS STRING), 2, '0'), "
    "'T00:00:00Z', chr(10), "
    "'Content-Length: ', CAST(length(concat('page c', CAST(c_custkey AS STRING), "
    "' of n', CAST(c_nationkey AS STRING), '.test')) AS STRING), chr(10), "
    "'WARC-Payload-Digest: md5:', md5(concat('page c', CAST(c_custkey AS STRING), "
    "' of n', CAST(c_nationkey AS STRING), '.test')), chr(10), chr(10), "
    "'page c', CAST(c_custkey AS STRING), ' of n', CAST(c_nationkey AS STRING), "
    "'.test', chr(10), chr(10))"
)

_WARC_REC_DUCK = (
    "concat('WARC/1.0', chr(10), 'WARC-Type: response', chr(10), "
    "'WARC-Target-URI: http://n', CAST(c_nationkey AS VARCHAR), '.test/c', "
    "CAST(c_custkey AS VARCHAR), chr(10), "
    "'WARC-Date: 2026-03-', lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0'), "
    "'T00:00:00Z', chr(10), "
    "'Content-Length: ', CAST(length(concat('page c', CAST(c_custkey AS VARCHAR), "
    "' of n', CAST(c_nationkey AS VARCHAR), '.test')) AS VARCHAR), chr(10), "
    "'WARC-Payload-Digest: md5:', md5(concat('page c', CAST(c_custkey AS VARCHAR), "
    "' of n', CAST(c_nationkey AS VARCHAR), '.test')), chr(10), chr(10), "
    "'page c', CAST(c_custkey AS VARCHAR), ' of n', CAST(c_nationkey AS VARCHAR), "
    "'.test', chr(10), chr(10))"
)


def warc_parse(spark: SparkSession, sf: str) -> DataFrame:
    c = T(spark, sf, "customer").select(
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string"), F.lit(".test")).alias(
            "host"
        ),
        "c_custkey",
        F.expr(_WARC_REC_SPARK).alias("rec"),
    )
    blobs = c.groupBy("host").agg(
        F.expr(
            "concat_ws('', transform(array_sort(collect_list(struct(c_custkey, rec))), "
            "s -> s.rec))"
        ).alias("body")
    )
    z = blobs.select(
        "host",
        F.expr(r"regexp_extract_all(body, 'WARC-Target-URI: (\\S+)', 1)").alias("uris"),
        F.expr(r"regexp_extract_all(body, 'WARC-Date: (\\S+)', 1)").alias("dates"),
        F.expr(r"regexp_extract_all(body, 'Content-Length: ([0-9]+)', 1)").alias("lens"),
        F.expr(r"regexp_extract_all(body, 'WARC-Payload-Digest: md5:(\\S+)', 1)").alias(
            "digests"
        ),
    )
    return z.select(
        "host", F.posexplode(F.arrays_zip("uris", "dates", "lens", "digests")).alias("pos", "s")
    ).select(
        "host",
        F.col("pos").cast("int").alias("pos"),
        F.col("s.uris").alias("uri"),
        F.col("s.dates").alias("warc_date"),
        F.col("s.lens").cast("int").alias("content_length"),
        F.col("s.digests").alias("payload_md5"),
    )


_WARC_SQL = rf"""
WITH rec AS (
  SELECT concat('n', CAST(c_nationkey AS VARCHAR), '.test') AS host, c_custkey,
         {_WARC_REC_DUCK} AS rec
  FROM customer
),
blobs AS (
  SELECT host, string_agg(rec, '' ORDER BY c_custkey) AS body
  FROM rec GROUP BY host
),
z AS (
  SELECT host,
         regexp_extract_all(body, 'WARC-Target-URI: (\S+)', 1) AS uris,
         regexp_extract_all(body, 'WARC-Date: (\S+)', 1) AS dates,
         regexp_extract_all(body, 'Content-Length: ([0-9]+)', 1) AS lens,
         regexp_extract_all(body, 'WARC-Payload-Digest: md5:(\S+)', 1) AS digests
  FROM blobs
)
SELECT host, CAST(i - 1 AS INT) AS pos, uris[i] AS uri, dates[i] AS warc_date,
       CAST(lens[i] AS INT) AS content_length, digests[i] AS payload_md5
FROM z, LATERAL (SELECT unnest(generate_series(1, len(uris))) AS i) g
"""


# --- sessionization ----------------------------------------------------------
#
# Gap-based sessionization of the events stream (the log-processing op a
# crawl/training pipeline runs over interaction or fetch logs): a new
# session starts when a user's inter-event gap exceeds 30 minutes.
# Exact-integer time math on BOTH engines (microseconds since epoch), so
# the boundary comparison can never flip between Spark and DuckDB.
_SESSION_GAP_US = 30 * 60 * 1_000_000


def sessionize_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user gap sessionization -> per-session rollup.

    100 TB shape: ONE exchange on user_id serves the whole plan — the
    lag window, the running-sum window, and the (user_id, session_idx)
    aggregate are all clustered by a superset of user_id, so Catalyst
    reuses the partitioning (no second shuffle); both windows share one
    sort.  Output columns are exact integers.
    """
    # ts is TIMESTAMP_NTZ: micros as a wall-clock diff from a fixed
    # anchor, identical on both engines REGARDLESS of session timezone
    # (unix_micros would round-trip through the session TZ)
    e = T(spark, sf, "events").select(
        "user_id",
        "event_id",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
        ).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    run = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flagged = e.withColumn(
        "new_sess",
        F.when(
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > _SESSION_GAP_US),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("session_idx", F.sum("new_sess").over(run))
    return flagged.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
        F.expr("(max(us) - min(us)) DIV 1000000").alias("duration_sec"),
    )


_SESSIONIZE_SQL = f"""
WITH e AS (
  SELECT user_id, event_id,
         epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01') AS us
  FROM events
),
flagged AS (
  SELECT user_id, event_id, us,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
sess AS (
  SELECT user_id, event_id, us,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       count(*) AS n_events,
       min(event_id) AS first_event,
       max(event_id) AS last_event,
       CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS duration_sec
FROM sess
GROUP BY user_id, session_idx
"""


# --- redirect-chain resolution ------------------------------------------------
#
# A crawl's fetch log is full of 3xx hops; the frontier must resolve
# every discovered URL to its FINAL target before the seen-filter
# anti-join, or the same page is fetched once per alias.  The reference
# follows redirects implicitly inside http.Get
# (/root/reference/functions/main_functions.go:47 — net/http follows up
# to 10 hops client-side); at corpus scale resolution is a GRAPH problem
# over the redirect edge set.
#
# 100 TB shape: POINTER DOUBLING, not per-hop iteration — k joins
# resolve chains of length 2^k, so a 10-hop crawl ceiling is 4
# equi-joins on url_canon (each co-partitionable with the bucketed edge
# table), vs 10 sequential joins for the naive walk.  Each round joins
# the frontier's (src, cursor) against the edge table and advances the
# cursor 2^i hops; rows whose cursor already left the edge set pass
# through untouched (left join + coalesce).  The DuckDB oracle is a
# genuinely different algorithm: a per-hop RECURSIVE walk.

_REDIR_HOP_CAP = 10  # net/http's client-side redirect ceiling

_REDIR_URL = (
    "concat('http://h', CAST(({k}) % 7 AS {s}), '.test/o/', CAST({k} AS {s}))"
)


def redirect_resolution(spark: SparkSession, sf: str) -> DataFrame:
    """(o_orderkey, url, final_url, hops) for every redirect source: the
    terminal URL after following the whole chain, plus chain length."""
    o = T(spark, sf, "orders")
    edges = (
        o.filter(F.expr("o_orderkey % 8 IN (1, 2, 3)"))
        .select(
            "o_orderkey",
            F.expr(_REDIR_URL.format(k="o_orderkey", s="STRING")).alias("src"),
            F.expr(_REDIR_URL.format(k="o_orderkey - 1", s="STRING")).alias("dst"),
        )
        .persist()
    )
    # frontier state: one row per original src, cursor starts 1 hop out
    f = edges.select(
        "o_orderkey",
        F.col("src").alias("url"),
        F.col("dst").alias("cursor"),
        F.lit(1).cast("long").alias("hops"),
    )
    hop_edges = edges.select(
        F.col("src").alias("e_src"),
        F.col("dst").alias("e_dst"),
        F.lit(1).cast("long").alias("e_hops"),
    )
    rounds = max(1, (_REDIR_HOP_CAP - 1).bit_length())  # 2^rounds >= cap
    for i in range(rounds):
        f = (
            f.join(hop_edges, f.cursor == hop_edges.e_src, "left")
            .select(
                "o_orderkey",
                "url",
                F.coalesce("e_dst", "cursor").alias("cursor"),
                (F.col("hops") + F.coalesce("e_hops", F.lit(0))).alias("hops"),
            )
        )
        if i == rounds - 1:
            break
        # double the edge table: src -2^i-> dst becomes src -2^(i+1)-> dst;
        # localCheckpoint materializes each doubled table once (truncated
        # lineage — otherwise every later round re-plans the whole tree)
        nxt = hop_edges.alias("x").join(
            hop_edges.alias("y"), F.col("x.e_dst") == F.col("y.e_src"), "left"
        )
        hop_edges = nxt.select(
            F.col("x.e_src").alias("e_src"),
            F.coalesce("y.e_dst", "x.e_dst").alias("e_dst"),
            (F.col("x.e_hops") + F.coalesce("y.e_hops", F.lit(0))).alias("e_hops"),
        ).localCheckpoint()
    edges.unpersist()
    return f.select(
        "o_orderkey", "url", F.col("cursor").alias("final_url"), "hops"
    )


_REDIR_SQL = (
    "WITH RECURSIVE e AS (SELECT o_orderkey, "
    + _REDIR_URL.format(k="o_orderkey", s="VARCHAR")
    + " AS src, "
    + _REDIR_URL.format(k="o_orderkey - 1", s="VARCHAR")
    + " AS dst FROM orders WHERE o_orderkey % 8 IN (1, 2, 3)),\n"
    """walk AS (
  SELECT o_orderkey, src, dst AS cur, 1 AS hops FROM e
  UNION ALL
  SELECT w.o_orderkey, w.src, e.dst, w.hops + 1
  FROM walk w JOIN e ON w.cur = e.src
)
SELECT o_orderkey, src AS url, cur AS final_url, CAST(hops AS BIGINT) AS hops
FROM walk w
WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = w.cur)
"""
)


# --- anchor-text aggregation ---------------------------------------------------
#
# The web-graph signal a crawl corpus contributes to ranking and to
# caption-style training data: for every link TARGET, the distinct
# anchor texts pointing at it with their frequencies, keeping the top-k.
# The reference extracts hrefs but discards the anchor text
# (/root/reference/functions/main_functions.go:87-99 grabs attr values
# only); this is the standard extension every link-graph pipeline runs.
#
# 100 TB shape: groupBy(target, anchor) gets a map-side partial
# aggregate (the anchor vocabulary per target is tiny vs the edge
# count, so the combine collapses almost everything before the
# shuffle), then the top-k window runs per-target over already-reduced
# rows.  One shuffle of the reduced pairs, never of the raw edge set.

_ANCHOR_TOP_K = 2


def anchor_text_topk(spark: SparkSession, sf: str) -> DataFrame:
    """(target, anchor, n_links, rank) — top-2 anchor texts per target by
    (count DESC, anchor ASC) over the lineitem-derived link set."""
    li = T(spark, sf, "lineitem")
    pairs = li.select(
        F.expr(
            "concat('http://h', CAST(l_orderkey % 11 AS STRING), '.test/o/',"
            " CAST(l_orderkey AS STRING))"
        ).alias("target"),
        F.expr(
            "concat(lower(l_returnflag), lower(l_linestatus), CAST(l_linenumber % 3 AS STRING))"
        ).alias("anchor"),
    )
    counts = pairs.groupBy("target", "anchor").agg(F.count("*").alias("n_links"))
    w = Window.partitionBy("target").orderBy(F.desc("n_links"), F.asc("anchor"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _ANCHOR_TOP_K)
        .select("target", "anchor", "n_links", F.col("rank").cast("int").alias("rank"))
    )


_ANCHOR_SQL = f"""
WITH pairs AS (
  SELECT concat('http://h', CAST(l_orderkey % 11 AS VARCHAR), '.test/o/',
                CAST(l_orderkey AS VARCHAR)) AS target,
         concat(lower(l_returnflag), lower(l_linestatus), CAST(l_linenumber % 3 AS VARCHAR)) AS anchor
  FROM lineitem
),
counts AS (
  SELECT target, anchor, count(*) AS n_links
  FROM pairs GROUP BY target, anchor
)
SELECT target, anchor, n_links, CAST(rank AS INT) AS rank
FROM (
  SELECT target, anchor, n_links,
         row_number() OVER (PARTITION BY target
                            ORDER BY n_links DESC, anchor ASC) AS rank
  FROM counts
)
WHERE rank <= {_ANCHOR_TOP_K}
"""


# --- frontier cardinality sketch audit ------------------------------------------
#
# Sizing the seen filter is the 10^10-frontier design decision this
# engine already makes from a KEY COUNT (bloom.py sizes by n_keys and
# bypasses when saturated); at scale that count comes from a SKETCH, not
# an exact distinct (HyperLogLog++ = one pass, constant memory,
# mergeable across executors — Spark's approx_count_distinct).  This op
# audits the sketch against the exact per-host distinct count and
# grades the INVARIANT (relative error within 5% at rsd=0.02), not the
# engine-specific estimate — DuckDB's HLL would never hash-match
# Spark's, but the bound must hold in any correct implementation.
#
# 100 TB shape: both counts are one partial-agg groupBy(host); the
# sketch side is the one that survives at scale (HLL partials merge
# map-side; exact distinct re-shuffles the key space and exists here
# only as the audit's ground truth).

_SKETCH_RSD = 0.02
_SKETCH_TOL_BP = 500  # graded bound: |approx - exact| <= 5% of exact


def frontier_cardinality_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """(host, n_exact, within_5pct) — HLL++ distinct-URL estimate per
    frontier host audited against the exact count."""
    o = T(spark, sf, "orders")
    u = o.select(
        F.expr("concat('h', CAST(o_orderkey % 7 AS STRING), '.test')").alias("host"),
        F.expr(_URL_BUILD).alias("url"),
    )
    per = u.groupBy("host").agg(
        F.countDistinct("url").alias("n_exact"),
        F.approx_count_distinct("url", rsd=_SKETCH_RSD).alias("n_approx"),
    )
    return per.select(
        "host",
        "n_exact",
        F.expr(
            f"abs(n_approx - n_exact) * 10000 <= n_exact * {_SKETCH_TOL_BP}"
        ).alias("within_5pct"),
    )


_SKETCH_SQL = f"""
SELECT concat('h', CAST(o_orderkey % 7 AS VARCHAR), '.test') AS host,
       count(DISTINCT {_URL_BUILD_DUCK}) AS n_exact,
       true AS within_5pct
FROM orders
GROUP BY 1
"""


# --- Bloom sizing plan -----------------------------------------------------------
#
# The provisioning math between the cardinality sketch and the seen
# filter: given n keys per shard and a target false-positive rate p,
# the optimal filter is m = -n ln p / ln^2 2 bits with k = (m/n) ln 2
# hashes (standard public formulas; bloom.py sizes its shards with the
# same rule).  The plan rounds m up to a power of two (the shard mmap
# granularity) via INTEGER bit-length — not ceil(log2(x)), whose 1-ulp
# error flips exact powers — and reports the expected fpp at the chosen
# (m, k) so over/under-provisioning is visible.  At 10^10 keys n comes
# from the HLL sketch; the gate grades the math on exact counts.

_BLOOM_TARGET_FPP = 0.01
_LN2 = 0.6931471805599453


def bloom_sizing_plan(spark: SparkSession, sf: str) -> DataFrame:
    """(host, n_keys, m_bits, k_hashes, expected_fpp) — per-shard Bloom
    provisioning for the frontier fixture's hosts."""
    o = T(spark, sf, "orders")
    u = o.select(
        F.expr("concat('h', CAST(o_orderkey % 7 AS STRING), '.test')").alias("host"),
        F.expr(_URL_BUILD).alias("url"),
    )
    per = u.groupBy("host").agg(F.countDistinct("url").alias("n_keys"))
    import math

    ln_p = math.log(_BLOOM_TARGET_FPP)
    m_opt = f"CAST(ceil(-n_keys * {ln_p!r} / ({_LN2!r} * {_LN2!r})) AS BIGINT)"
    m_bits = (
        f"CAST(CASE WHEN ({m_opt} & ({m_opt} - 1)) = 0 THEN {m_opt} "
        f"ELSE CAST(power(2.0, length(bin({m_opt}))) AS BIGINT) END AS BIGINT)"
    )
    plan = per.select(
        "host",
        "n_keys",
        F.expr(m_bits).alias("m_bits"),
    ).select(
        "host",
        "n_keys",
        "m_bits",
        F.expr(
            f"greatest(CAST(floor(m_bits * {_LN2!r} / n_keys + 0.5) AS BIGINT), 1L)"
        ).alias("k_hashes"),
    )
    return plan.withColumn(
        "expected_fpp",
        F.expr(
            "round(power(1.0 - exp(-(CAST(k_hashes AS DOUBLE) * n_keys) / m_bits), "
            "CAST(k_hashes AS DOUBLE)), 6)"
        ),
    )


def _bloom_plan_sql() -> str:
    import math

    ln_p = math.log(_BLOOM_TARGET_FPP)
    m_opt = f"CAST(ceil(-n_keys * {ln_p!r} / ({_LN2!r} * {_LN2!r})) AS BIGINT)"
    m_bits = (
        f"CAST(CASE WHEN ({m_opt} & ({m_opt} - 1)) = 0 THEN {m_opt} "
        f"ELSE CAST(power(2.0, length(bin({m_opt}))) AS BIGINT) END AS BIGINT)"
    )
    return f"""
WITH per AS (
  SELECT concat('h', CAST(o_orderkey % 7 AS VARCHAR), '.test') AS host,
         count(DISTINCT {_URL_BUILD_DUCK}) AS n_keys
  FROM orders GROUP BY 1
),
m AS (SELECT host, n_keys, {m_bits} AS m_bits FROM per),
k AS (
  SELECT host, n_keys, m_bits,
         greatest(CAST(floor(m_bits * {_LN2!r} / n_keys + 0.5) AS BIGINT), 1) AS k_hashes
  FROM m
)
SELECT host, n_keys, m_bits, k_hashes,
       round(power(1.0 - exp(-(CAST(k_hashes AS DOUBLE) * n_keys) / m_bits),
                   CAST(k_hashes AS DOUBLE)), 6) AS expected_fpp
FROM k
"""


# --- rendezvous frontier sharding ------------------------------------------------
#
# How a 10^10 frontier maps hosts onto executors/shards without a
# central table: RENDEZVOUS (highest-random-weight) hashing — every
# host picks the shard with the max hash(host, shard) weight (Thaler &
# Ravishankar 1998, public).  Its defining property is MINIMAL
# RESHARDING: growing the pool N -> N+1 moves a host ONLY to the new
# shard (an old shard can never overtake another old shard for the same
# host, since neither weight changed).  The op computes both
# assignments and the move flag; the property itself is pinned by a
# pytest invariant and implicitly by the oracle (moved => new shard).
#
# 100 TB shape: a per-row transform over the host list (explode of a
# SHARD-count literal array + one partial max-struct aggregate per
# host) — no join, no global state; exactly what each executor can
# compute locally to route its own output.

_RDV_SHARDS = 8


def rendezvous_shard(spark: SparkSession, sf: str) -> DataFrame:
    """(host, shard, shard_scaled, moved): rendezvous assignment at
    _RDV_SHARDS and _RDV_SHARDS+1 shards with the move flag."""
    c = T(spark, sf, "customer")
    hosts = c.select(
        F.expr("concat('n', CAST(c_custkey % 97 AS STRING), '.test')").alias("host")
    ).distinct()
    n1 = _RDV_SHARDS + 1
    weighted = hosts.select(
        "host",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n1 - 1}), "
                f"s -> md5(concat(host, ':', CAST(s AS STRING))))"
            )
        ).alias("s", "w"),
    )
    agg = weighted.groupBy("host").agg(
        F.max(F.expr(f"CASE WHEN s < {_RDV_SHARDS} THEN struct(w, s) END")).alias("a8"),
        F.max(F.expr("struct(w, s)")).alias("a9"),
    )
    return agg.select(
        "host",
        F.col("a8.s").alias("shard"),
        F.col("a9.s").alias("shard_scaled"),
        (F.col("a8.s") != F.col("a9.s")).alias("moved"),
    )


_RDV_SQL = f"""
WITH hosts AS (
  SELECT DISTINCT concat('n', CAST(c_custkey % 97 AS VARCHAR), '.test') AS host
  FROM customer
),
weighted AS (
  SELECT host, s, md5(concat(host, ':', CAST(s AS VARCHAR))) AS w
  FROM hosts, LATERAL (
    SELECT unnest(generate_series(0, {_RDV_SHARDS})) AS s
  ) u
),
agg AS (
  SELECT host,
         CAST(max_by(s, w) FILTER (WHERE s < {_RDV_SHARDS}) AS INT) AS shard,
         CAST(max_by(s, w) AS INT) AS shard_scaled
  FROM weighted GROUP BY host
)
SELECT host, shard, shard_scaled, shard != shard_scaled AS moved
FROM agg
"""


# --- latency quantile sketch audit -----------------------------------------------
#
# The politeness scheduler tunes per-host crawl delays from RESPONSE
# LATENCY PERCENTILES; at corpus scale those come from a mergeable
# quantile sketch (Spark's approx_percentile — Greenwald-Khanna), not a
# per-host sort.  Like frontier_cardinality_sketch, this audits the
# sketch against the exact interpolated percentile and grades the
# BOUND (within 2% of the latency range at accuracy=100) — the exact
# values also ship and must match the oracle's quantile_cont (both
# engines use the (n-1)p linear-interpolation definition).

# key reduced mod 1000 BEFORE the Knuth multiply: (k*c) % m ==
# ((k % m)*c) % m, and the bounded product (<= 999 * 2654435761 ~ 2.7e12)
# never overflows INT64 — the unreduced form wraps silently in Spark and
# raises in DuckDB once the key exceeds ~3.47e9 (ADVICE r3)
_LAT_EXPR = "((o_orderkey % 1000) * 2654435761) % 1000"
_LAT_TOL = 20  # graded bound: |approx - exact| <= 20 ms of the 0..999 range


def latency_quantile_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """(host, n, p50_exact, p95_exact, p50_ok, p95_ok) — per-host
    latency percentiles: exact + sketch-within-bound booleans."""
    o = T(spark, sf, "orders")
    lat = o.select(
        F.expr("concat('h', CAST(o_orderkey % 7 AS STRING), '.test')").alias("host"),
        F.expr(f"CAST({_LAT_EXPR} AS BIGINT)").alias("lat"),
    )
    per = lat.groupBy("host").agg(
        F.count("*").alias("n"),
        F.expr("percentile(lat, 0.5)").alias("p50_exact"),
        F.expr("percentile(lat, 0.95)").alias("p95_exact"),
        F.expr("approx_percentile(lat, 0.5, 100)").alias("p50_approx"),
        F.expr("approx_percentile(lat, 0.95, 100)").alias("p95_approx"),
    )
    return per.select(
        "host",
        "n",
        "p50_exact",
        "p95_exact",
        F.expr(f"abs(p50_approx - p50_exact) <= {_LAT_TOL}").alias("p50_ok"),
        F.expr(f"abs(p95_approx - p95_exact) <= {_LAT_TOL}").alias("p95_ok"),
    )


_LATQ_SQL = f"""
SELECT concat('h', CAST(o_orderkey % 7 AS VARCHAR), '.test') AS host,
       count(*) AS n,
       quantile_cont(CAST({_LAT_EXPR} AS BIGINT), 0.5) AS p50_exact,
       quantile_cont(CAST({_LAT_EXPR} AS BIGINT), 0.95) AS p95_exact,
       true AS p50_ok,
       true AS p95_ok
FROM orders
GROUP BY 1
"""


# --- store integrity digest -------------------------------------------------------
#
# Cheap whole-store verification after upsert/compaction/replication:
# an ORDER-FREE per-bucket digest (bit_xor of a 60-bit md5 prefix per
# row + row count).  XOR is commutative/associative, so the digest is
# independent of file layout and aggregation order — two stores match
# iff every (bucket, n_rows, digest) row matches, no matter how their
# files are split.  This is the Merkle-leaf level of a store audit; the
# snapshots layer's compaction (snapshots.py:292) is exactly the
# operation whose no-op-ness this certifies.
#
# 100 TB shape: one partial-agg groupBy(bucket) — map-side xor partials
# collapse each partition to 64 rows before the shuffle; no sort, no
# join, no ordered agg anywhere.

_DIGEST_BUCKETS = 64
# 15 hex chars = 60 bits: fits bigint in both engines with no sign games
_DIGEST_SPARK = "CAST(conv(substring(md5(url), 1, 15), 16, 10) AS BIGINT)"
_DIGEST_DUCK = (
    "CAST(('0x' || substring(md5(url), 1, 15)) AS BIGINT)"
)


def store_integrity_digest(spark: SparkSession, sf: str) -> DataFrame:
    """(bucket, n_rows, digest): order-free xor digest of the store's
    URL rows per bucket.

    The bucket key is an md5-prefix mod (engine-portable — a production
    deployment would use the table's own bucket column, e.g. the seen
    table's pmod(hash(url_canon), 64), where the digest certifies
    compaction did not lose or duplicate a row)."""
    o = T(spark, sf, "orders")
    u = o.select(F.expr(_URL_BUILD).alias("url"))
    return (
        u.select(
            F.expr(
                f"CAST(conv(substring(md5(url), 16, 2), 16, 10) AS INT) % {_DIGEST_BUCKETS}"
            ).alias("bucket"),
            F.expr(_DIGEST_SPARK).alias("h"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(h)").alias("digest"),
        )
    )


_DIGEST_SQL = f"""
WITH u AS (SELECT {_URL_BUILD_DUCK} AS url FROM orders)
SELECT CAST(CAST(('0x' || substring(md5(url), 16, 2)) AS BIGINT) % {_DIGEST_BUCKETS} AS INT)
         AS bucket,
       count(*) AS n_rows,
       bit_xor({_DIGEST_DUCK}) AS digest
FROM u
GROUP BY 1
"""


# --- per-host error-budget circuit breaker ---------------------------------------
#
# Crawler health policy: a host answering with a RUN of consecutive
# failures gets its circuit opened (back off, stop burning budget) —
# run-length, not failure rate, because a 1%-spread flake is normal
# while 3 failures in a row means the host is down or blocking us.  The
# reference's error policy is per-URL only (mark seen, never retry:
# /root/reference/functions/main_functions.go:50,57-62); the breaker is
# its host-level aggregate.
#
# Run lengths are the classic gaps-and-islands: island id = attempt
# rank minus rank-among-failures, computed with two windows that share
# ONE (host)-keyed exchange; the rollup is a partial-agg groupBy.

_CB_THRESHOLD = 4  # consecutive failures that open the circuit
# iid failure signal, p = 1/4, md5-derived so both engines agree and per-
# host run lengths VARY (some hosts open, some stay closed at test scale)
_CB_OK_SPARK = (
    "CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 2), 16, 10) AS INT)"
    " % 4 != 0"
)
_CB_OK_DUCK = (
    "CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2)) AS INT)"
    " % 4 != 0"
)


def host_circuit_breaker(spark: SparkSession, sf: str) -> DataFrame:
    """(host, n_attempts, n_fail, max_consec_fail, circuit_open) over
    the synthesized per-host fetch-attempt log."""
    o = T(spark, sf, "orders")
    log = o.select(
        F.expr("concat('h', CAST(o_orderkey % 7 AS STRING), '.test')").alias("host"),
        F.col("o_orderkey").alias("seq"),
        F.expr(_CB_OK_SPARK).alias("ok"),
    )
    wh = Window.partitionBy("host").orderBy("seq")
    wf = Window.partitionBy("host", "ok").orderBy("seq")
    islands = log.withColumn(
        "island", F.row_number().over(wh) - F.row_number().over(wf)
    )
    # one scan, ONE exchange: hashpartitioning(host) from the first window
    # satisfies the (host, ok) window AND both downstream groupBys, so the
    # run collapse and the per-host rollup run exchange-free; no join.
    runs = islands.groupBy("host", "ok", "island").agg(
        F.count("*").alias("run_len")
    )
    return runs.groupBy("host").agg(
        F.sum("run_len").alias("n_attempts"),
        F.sum(F.when(~F.col("ok"), F.col("run_len")).otherwise(0)).alias("n_fail"),
        F.max(F.when(~F.col("ok"), F.col("run_len")).otherwise(0)).alias(
            "max_consec_fail"
        ),
    ).withColumn("circuit_open", F.col("max_consec_fail") >= _CB_THRESHOLD)


_CB_SQL = f"""
WITH log AS (
  SELECT concat('h', CAST(o_orderkey % 7 AS VARCHAR), '.test') AS host,
         o_orderkey AS seq,
         {_CB_OK_DUCK} AS ok
  FROM orders
),
islands AS (
  SELECT host, seq, ok,
         row_number() OVER (PARTITION BY host ORDER BY seq)
           - row_number() OVER (PARTITION BY host, ok ORDER BY seq) AS island
  FROM log
),
runs AS (
  SELECT host, island, count(*) AS run_len
  FROM islands WHERE NOT ok GROUP BY host, island
),
per_host AS (
  SELECT host, count(*) AS n_attempts,
         CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_fail
  FROM log GROUP BY host
),
mr AS (SELECT host, max(run_len) AS max_consec_fail FROM runs GROUP BY host)
SELECT p.host, p.n_attempts, p.n_fail,
       coalesce(mr.max_consec_fail, 0) AS max_consec_fail,
       coalesce(mr.max_consec_fail, 0) >= {_CB_THRESHOLD} AS circuit_open
FROM per_host p LEFT JOIN mr USING (host)
"""


# --- adaptive per-host crawl delay (AIMD-flavoured EWMA) ----------------------
#
# A continuous crawl tunes each host's politeness delay from OBSERVED
# fetch latency, not a static robots crawl-delay: slow hosts back off,
# fast hosts speed up (reference politeness is a fixed 1s sleep,
# functions/main_functions.go:39 — this is its closed-loop extension).
# The events fixture stands in for the fetch log; latency is an integer
# Knuth-hash surrogate (same device as latency_quantile_sketch — no
# floats anywhere near the value hash).
#
# The decayed average uses only the LAST K=8 fetches per host with
# integer weights 3^j (newest j=K-1 .. wait: rk=1 newest gets 3^(K-1)
# after inversion — see below), so the whole computation is exact
# integer arithmetic, identically evaluable in Spark and DuckDB, and
# O(K) state per host.
#
# 100 TB shape: window top-K per host compiles to a Partial
# WindowGroupLimit (map-side cap: each task forwards at most K rows per
# host) -> ONE shuffle on host -> tiny groupBy.  The fetch log is never
# globally sorted and never shuffled at full width.

_ACD_K = 8  # fetches remembered per host
# event_id reduced mod 1950 before the multiply: identical values
# (modular arithmetic), but overflow-free at every sf — the unreduced
# product wraps INT64 once event_id exceeds ~3.47e9 (ADVICE r3)
_ACD_LAT = "50 + ((event_id % 1950) * 2654435761) % 1950"  # 50..1999 ms surrogate


def adaptive_crawl_delay(spark: SparkSession, sf: str) -> DataFrame:
    e = T(spark, sf, "events").select(
        F.expr("concat('h', CAST(user_id % 200 AS STRING))").alias("host"),
        F.col("event_id"),
        F.col("ts"),
        F.expr(f"CAST({_ACD_LAT} AS BIGINT)").alias("lat_ms"),
    )
    w = Window.partitionBy("host").orderBy(F.desc("ts"), F.desc("event_id"))
    recent = e.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _ACD_K)
    # rk=1 is the NEWEST fetch -> largest weight 3^(K-rk); ewma_ms is the
    # weight-normalized integer mean (DIV is well-defined identically in
    # Spark and DuckDB); pow() is exact in double up to 3^7
    per = recent.groupBy("host").agg(
        F.count("*").alias("k"),
        F.expr(f"CAST(sum(lat_ms * CAST(pow(3, {_ACD_K} - rk) AS BIGINT)) AS BIGINT)").alias("score"),
        F.expr(f"CAST(sum(CAST(pow(3, {_ACD_K} - rk) AS BIGINT)) AS BIGINT)").alias("norm"),
        F.expr("max(CASE WHEN rk = 1 THEN lat_ms END)").alias("last_lat_ms"),
    )
    return per.select(
        "host",
        F.col("k").cast("int").alias("k"),
        F.expr("CAST(score DIV norm AS BIGINT)").alias("ewma_ms"),
        "last_lat_ms",
        F.expr("greatest(100, least(5000, (score DIV norm) * 2))").alias("crawl_delay_ms"),
        F.expr("CASE WHEN last_lat_ms > 2 * (score DIV norm) THEN 'backoff' "
               "WHEN last_lat_ms * 2 < (score DIV norm) THEN 'speedup' "
               "ELSE 'steady' END").alias("mode"),
    )


_ACD_SQL = f"""
WITH e AS (
  SELECT concat('h', CAST(user_id % 200 AS VARCHAR)) AS host, event_id, ts,
         CAST({_ACD_LAT} AS BIGINT) AS lat_ms
  FROM events
),
recent AS (
  SELECT host, lat_ms,
         row_number() OVER (PARTITION BY host ORDER BY ts DESC, event_id DESC) AS rk
  FROM e QUALIFY rk <= {_ACD_K}
),
per AS (
  SELECT host, count(*) AS k,
         CAST(sum(lat_ms * CAST(power(3, {_ACD_K} - rk) AS BIGINT)) AS BIGINT) AS score,
         CAST(sum(CAST(power(3, {_ACD_K} - rk) AS BIGINT)) AS BIGINT) AS norm,
         max(CASE WHEN rk = 1 THEN lat_ms END) AS last_lat_ms
  FROM recent GROUP BY host
)
SELECT host, CAST(k AS INT) AS k,
       CAST(score // norm AS BIGINT) AS ewma_ms,
       last_lat_ms,
       greatest(100, least(5000, (score // norm) * 2)) AS crawl_delay_ms,
       CASE WHEN last_lat_ms > 2 * (score // norm) THEN 'backoff'
            WHEN last_lat_ms * 2 < (score // norm) THEN 'speedup'
            ELSE 'steady' END AS mode
FROM per
"""


# --- z-order write-layout audit ----------------------------------------------
#
# At 100 TB the file layout decides what a scan can prune: a page store
# written in arrival order spreads every (host, time) predicate across
# every file, while a z-order (Morton-interleaved) key clusters each
# file into a small host x time rectangle so min/max file statistics
# prune most of the store.  This op plans the layout and AUDITS it: each
# event gets a 4+4-bit Morton key over (host_bucket, day_bucket), files
# are 16 consecutive z values (a 4x4 tile), and the output compares the
# per-file host/time spans of the z-order layout against a round-robin
# (arrival-hash) baseline.  Pure integer arithmetic (bit extraction by
# // and %), one partial-agg shuffle, no window — DuckDB replays it
# exactly.
#
# 100 TB shape: the layout key is a map-side expression; the audit is
# ONE groupBy (layout, file_id) with map-side partials.  Writing the
# store z-ordered is then just `repartitionByRange(z_key)` at sink time.

_Z_BITS = 4  # 16 host buckets x 16 day buckets -> 256 z values, 16 files


def _z_interleave(h: str, t: str) -> str:
    """Morton interleave of two _Z_BITS-bit integers as arithmetic."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({h}) DIV {1 << i} % 2) * {1 << (2 * i + 1)}")
        terms.append(f"(({t}) DIV {1 << i} % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


def zorder_layout_plan(spark: SparkSession, sf: str) -> DataFrame:
    """(layout, file_id, n, host_span, day_span): per-file bucket spans
    of the z-order layout vs the round-robin baseline."""
    # day bucket via a wall-clock diff from a fixed NTZ origin (ADVICE
    # r4): unix_timestamp(ts) routes through the session timezone and
    # agrees with the oracle's naive epoch(ts) only under UTC sessions;
    # timestampdiff on TIMESTAMP_NTZ is timezone-free on any driver
    e = T(spark, sf, "events").select(
        F.expr("CAST(user_id % 16 AS BIGINT)").alias("hb"),
        F.expr(
            "CAST(timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            " DIV 86400 % 16 AS BIGINT)"
        ).alias("tb"),
        F.col("event_id"),
    )
    z = e.withColumn("zk", F.expr(_z_interleave("hb", "tb")))
    both = z.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.expr("CAST(zk DIV 16 AS BIGINT)").alias("file_id"),
                ),
                F.struct(
                    F.lit("roundrobin").alias("layout"),
                    F.expr("CAST(event_id % 16 AS BIGINT)").alias("file_id"),
                ),
            )
        ).alias("f"),
        "hb",
        "tb",
    )
    return (
        both.groupBy(F.col("f.layout").alias("layout"), F.col("f.file_id").alias("file_id"))
        .agg(
            F.count("*").alias("n"),
            (F.max("hb") - F.min("hb") + 1).cast("long").alias("host_span"),
            (F.max("tb") - F.min("tb") + 1).cast("long").alias("day_span"),
        )
    )


def _zorder_sql() -> str:
    z = _z_interleave("hb", "tb").replace("DIV", "//")
    return f"""
WITH e AS (
  SELECT CAST(user_id % 16 AS BIGINT) AS hb,
         CAST(CAST(epoch(ts) AS BIGINT) // 86400 % 16 AS BIGINT) AS tb,
         event_id
  FROM events
),
z AS (SELECT hb, tb, event_id, {z} AS zk FROM e),
both_l AS (
  SELECT 'zorder' AS layout, CAST(zk // 16 AS BIGINT) AS file_id, hb, tb FROM z
  UNION ALL
  SELECT 'roundrobin' AS layout, CAST(event_id % 16 AS BIGINT) AS file_id, hb, tb FROM z
)
SELECT layout, file_id, count(*) AS n,
       CAST(max(hb) - min(hb) + 1 AS BIGINT) AS host_span,
       CAST(max(tb) - min(tb) + 1 AS BIGINT) AS day_span
FROM both_l GROUP BY layout, file_id
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "anti_join_unseen": anti_join_unseen,
    "semi_join_seen": semi_join_seen,
    "bloom_prefilter_antijoin": bloom_prefilter_antijoin,
    "fetch_lookup_join": fetch_lookup_join,
    "window_rank_per_host": window_rank_per_host,
    "per_host_budget": per_host_budget,
    "politeness_schedule": politeness_schedule,
    "global_fifo_seq": global_fifo_seq,
    "first_occurrence_dedup": first_occurrence_dedup,
    "url_canonicalize": url_canonicalize,
    "url_canon_full": url_canon_full,
    "stream_seed_ingest": stream_seed_ingest,
    "robots_txt_parse": robots_txt_parse,
    "sitemap_parse": sitemap_parse,
    "warc_parse": warc_parse,
    "recrawl_priority": recrawl_priority,
    "url_template_mining": url_template_mining,
    "frontier_snapshot_diff": frontier_snapshot_diff,
    "same_host_filter": same_host_filter,
    "link_extract_explode": link_extract_explode,
    "metrics_rollup": metrics_rollup,
    "event_window_agg": event_window_agg,
    "sessionize_events": sessionize_events,
    "redirect_resolution": redirect_resolution,
    "anchor_text_topk": anchor_text_topk,
    "frontier_cardinality_sketch": frontier_cardinality_sketch,
    "rendezvous_shard": rendezvous_shard,
    "latency_quantile_sketch": latency_quantile_sketch,
    "store_integrity_digest": store_integrity_digest,
    "host_circuit_breaker": host_circuit_breaker,
    "sitemap_robots_gate": sitemap_robots_gate,
    "mirror_host_detect": mirror_host_detect,
    "domain_budget_rollup": domain_budget_rollup,
    "url_strip_tracking": url_strip_tracking,
    "robots_failure_policy": robots_failure_policy,
    "bloom_sizing_plan": bloom_sizing_plan,
    "adaptive_crawl_delay": adaptive_crawl_delay,
    "zorder_layout_plan": zorder_layout_plan,
}

ORACLES = {
    "q1_pricing_summary": _Q1_SQL,
    "q3_shipping_priority": _Q3_SQL,
    "anti_join_unseen": _ANTI_SQL,
    "semi_join_seen": _SEMI_SQL,
    "bloom_prefilter_antijoin": _ANTI_SQL,  # must equal the exact anti-join
    "fetch_lookup_join": _FETCH_SQL,
    "window_rank_per_host": _RANK_SQL,
    "per_host_budget": _BUDGET_SQL,
    "politeness_schedule": _SCHEDULE_SQL,
    "global_fifo_seq": _SEQ_SQL,
    "first_occurrence_dedup": _FIRSTOCC_SQL,
    "url_canonicalize": _CANON_SQL,
    "url_canon_full": _CANON_FULL_SQL,
    "stream_seed_ingest": _SEED_INGEST_SQL,
    "robots_txt_parse": _ROBOTS_PARSE_SQL,
    "sitemap_parse": _SITEMAP_SQL,
    "warc_parse": _WARC_SQL,
    "recrawl_priority": _RECRAWL_SQL,
    "url_template_mining": _TRAP_SQL,
    "frontier_snapshot_diff": _SNAPDIFF_SQL,
    "same_host_filter": _SAMEHOST_SQL,
    "link_extract_explode": _EXTRACT_SQL,
    "metrics_rollup": _METRICS_SQL,
    "event_window_agg": _WINDOW_SQL,
    "sessionize_events": _SESSIONIZE_SQL,
    "redirect_resolution": _REDIR_SQL,
    "anchor_text_topk": _ANCHOR_SQL,
    "frontier_cardinality_sketch": _SKETCH_SQL,
    "rendezvous_shard": _RDV_SQL,
    "latency_quantile_sketch": _LATQ_SQL,
    "store_integrity_digest": _DIGEST_SQL,
    "host_circuit_breaker": _CB_SQL,
    "sitemap_robots_gate": _SITEMAP_GATE_SQL,
    "mirror_host_detect": _MIRROR_SQL,
    "domain_budget_rollup": _DOMAIN_SQL,
    "url_strip_tracking": _STRIP_SQL,
    "robots_failure_policy": _ROBOTS_POLICY_SQL,
    "bloom_sizing_plan": _bloom_plan_sql(),
    "adaptive_crawl_delay": _ACD_SQL,
    "zorder_layout_plan": _zorder_sql(),
}
