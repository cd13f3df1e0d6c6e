"""Independent expected outputs, computed with DuckDB from the input files.

Every reference reads the same parquet slices the Spark side reads.
``check_pages`` and ``check_wire_crawl`` compare one batch's output with
the reference of its slice: the pages rollup inside DuckDB, the other
outputs as multisets of canonical rows (``rows``).  The wire-protocol
references are the registry's own ``ORACLE_SQL`` texts.
"""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter

import duckdb

from . import inputs

# the registry queries a wire_crawl batch runs; the OTLP-JSON round trip
# (otlp_metrics_roundtrip) is timed only in the traced run, which keeps a
# run inside its time budget
WIRE_QUERIES = ("forward_msgpack_decode", "jaeger_batch_decode")
INTERVALS = (("1m", 60), ("10m", 600), ("60m", 3600))


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET TimeZone = 'UTC'")
    return con


_PLAIN = (int, str, bool, bytes)


def canon(value):
    """One cell as a comparable Python value: timestamps as epoch
    microseconds, floats rounded to 9 significant digits."""
    if value is None or type(value) in _PLAIN:
        return value
    if isinstance(value, dt.datetime):
        if value.tzinfo is None:
            value = value.replace(tzinfo=dt.timezone.utc)
        return round(value.timestamp() * 1_000_000)
    if isinstance(value, float):
        return float(f"{value:.9g}") if math.isfinite(value) else str(value)
    if hasattr(value, "item"):  # numpy / decimal scalars
        return canon(value.item())
    return value


def rows(table_rows) -> Counter:
    """The rows as a multiset of canonical tuples: two outputs match when
    their multisets are equal, whatever their row order."""
    return Counter(tuple(canon(v) for v in row) for row in table_rows)


def arrow_rows(table, columns: list[str]) -> Counter:
    cols = [table.column(c).to_pylist() for c in columns]
    return rows(zip(*cols))


# --------------------------------------------------------------------------
# pages: parse -> enrich -> derive -> route -> (window, sink, geo) rollups
# --------------------------------------------------------------------------
PAGES_COLUMNS = ["metricset_interval", "window_start", "sink", "geo", "docs",
                 "dur_us_sum", "success_count", "failure_count", "dur_us_min",
                 "dur_us_max"]


def pages_rollup_sql(slice_dir: str) -> str:
    """The (interval, window, sink, geo) aggregates restated from the raw
    log text: regex field extraction, dim lookup with 'unknown' default,
    error routing, outcome counts, and tumbling windows; its columns are
    PAGES_COLUMNS."""
    ivl = " UNION ALL ".join(f"SELECT '{n}' AS ivl, {s} AS secs" for n, s in INTERVALS)
    return rf"""
    WITH p AS (
        SELECT warc_ts,
               nullif(regexp_extract(text, 'level=(INFO|WARN|ERROR)', 1), '') AS level,
               nullif(regexp_extract(text, 'svc=(\S+)', 1), '') AS svc,
               CAST(nullif(regexp_extract(text, 'code=(\d+)', 1), '') AS INT) AS code,
               CAST(nullif(regexp_extract(text, 'dur_us=(\d+)', 1), '') AS BIGINT) AS dur_us,
               lower(regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1)) AS domain
        FROM read_parquet('{slice_dir}/pages.parquet')
    ), e AS (
        SELECT p.*, coalesce(d.geo, 'unknown') AS geo,
               coalesce(d.category, 'unknown') AS category
        FROM p LEFT JOIN read_parquet('{slice_dir}/domain_dim.parquet') d USING (domain)
    ), r AS (
        SELECT warc_ts, dur_us, geo,
               CASE WHEN level IS NULL OR code IS NULL OR svc IS NULL OR level = 'ERROR'
                    THEN 'logs.error'
                    ELSE 'logs.' || regexp_replace(lower(category), '[^a-z0-9]', '_', 'g')
               END AS sink,
               CASE WHEN code IS NOT NULL AND code < 400 THEN 1 ELSE 0 END AS ok,
               CASE WHEN code IS NOT NULL AND code >= 400 THEN 1 ELSE 0 END AS bad
        FROM e
    )
    SELECT ivl AS metricset_interval,
           to_timestamp(floor(epoch(warc_ts) / secs) * secs) AS window_start,
           sink, geo, count(*) AS docs, sum(dur_us)::BIGINT AS dur_us_sum,
           sum(ok)::BIGINT AS success_count, sum(bad)::BIGINT AS failure_count,
           min(dur_us) AS dur_us_min, max(dur_us) AS dur_us_max
    FROM r, ({ivl}) i
    GROUP BY ALL
    """


def written_sinks(con, out_dir: str) -> dict[str, dict[str, int]]:
    """What the fan-out commit left on disk: rows per sink directory,
    lineage rows_out per sink, and the checkpoint's done units."""
    fan = con.execute(
        f"SELECT sink, count(*) FROM read_parquet('{out_dir}/fanout/*/*.parquet', "
        "hive_partitioning = true) GROUP BY sink"
    ).fetchall()
    lineage = con.execute(
        f"SELECT sink, sum(rows_out) FROM read_parquet('{out_dir}/_lineage/*.parquet') "
        "GROUP BY sink"
    ).fetchall()
    ckpt = con.execute(
        f"SELECT unit_id, sum(rows_out) FROM read_parquet('{out_dir}/_checkpoint/*.parquet') "
        "WHERE status = 'done' GROUP BY unit_id"
    ).fetchall()
    return {"fanout": dict(fan), "lineage": {k: int(v) for k, v in lineage},
            "checkpoint": {k: int(v) for k, v in ckpt}}


# --------------------------------------------------------------------------
# wire protocols: the registry's own oracle texts over the slice's events
# --------------------------------------------------------------------------
def wire_outputs(con, slice_dir: str) -> dict[str, Counter]:
    from opentelemetry_collector_components_spark.queries import ORACLE_SQL

    con.execute(
        f"CREATE OR REPLACE VIEW events AS SELECT * FROM "
        f"read_parquet('{slice_dir}/events.parquet')"
    )
    return {q: rows(con.execute(ORACLE_SQL[q]).fetchall()) for q in WIRE_QUERIES}


# --------------------------------------------------------------------------
# crawl joins: row counts and key sums per operator
# --------------------------------------------------------------------------
CRAWL_COLUMNS = ["op", "a", "b", "c", "d"]


def crawl_summary(con, slice_dir: str) -> Counter:
    """(op, a, b, c, d) per crawl operator, in the layout the Spark side
    emits: host edges (edges, links), redirects (urls, hops, dangling,
    too_many), robots (urls, allowed, allowed id sum, no rule matched),
    WARC records (records, declared length sum, responses) and HTTP
    responses (responses, status sum, body bytes)."""
    sql = rf"""
    WITH RECURSIVE
    pg AS (
        SELECT lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS src,
               unnest(regexp_extract_all(decode(html),
                      '(?i)<a\s[^>]*href=["'']([^"'']*)["'']', 1)) AS href
        FROM read_parquet('{slice_dir}/linked.parquet')
    ), lk AS (
        SELECT src, CASE
            WHEN regexp_matches(href, '(?i)^https?://')
                THEN lower(regexp_extract(href, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1))
            WHEN starts_with(href, '//') THEN lower(regexp_extract(href, '^//([^/?#]+)', 1))
            WHEN starts_with(href, '/') THEN src
            END AS dst
        FROM pg
    ), edges AS (
        SELECT src, dst, count(*) AS n FROM lk
        WHERE dst IS NOT NULL AND dst <> src GROUP BY ALL
    ), log AS (
        SELECT url,
               coalesce(status BETWEEN 300 AND 399 AND location IS NOT NULL, false) AS is_redir,
               CASE WHEN starts_with(location, '/') THEN 'https://h.io' || location
                    ELSE location END AS next
        FROM read_parquet('{slice_dir}/fetch.parquet')
    ), walk AS (
        SELECT url AS start_url, url AS cur, 0 AS hops FROM log
        UNION ALL
        SELECT w.start_url, l.next, w.hops + 1
        FROM walk w JOIN log l ON l.url = w.cur
        WHERE l.is_redir AND w.hops < 8
    ), term AS (
        SELECT start_url, cur, hops,
               row_number() OVER (PARTITION BY start_url ORDER BY hops DESC) AS rn
        FROM walk
    ), redir AS (
        SELECT t.hops, CASE WHEN l.url IS NULL THEN 'dangling'
                            WHEN l.is_redir THEN 'too_many' ELSE 'ok' END AS outcome
        FROM term t LEFT JOIN log l ON l.url = t.cur WHERE t.rn = 1
    ), rules(tpl, rule, path) AS (
        VALUES (0, 'disallow', '/private/'), (0, 'allow', '/private/ok'),
               (1, 'disallow', '/'), (2, 'disallow', '/'), (2, 'allow', '/p/')
    ), hosts AS (
        SELECT host, list_position(?, decode(body)) - 1 AS tpl
        FROM read_parquet('{slice_dir}/robots.parquet')
    ), fr AS (
        SELECT url_id, regexp_extract(url, '^https://([^/]+)', 1) AS host,
               regexp_extract(url, '^https://[^/]+(/.*)$', 1) AS path
        FROM read_parquet('{slice_dir}/frontier.parquet')
    ), matched AS (
        SELECT fr.url_id, r.rule, length(r.path) AS plen
        FROM fr LEFT JOIN hosts h USING (host)
                LEFT JOIN rules r ON r.tpl = h.tpl AND starts_with(fr.path, r.path)
    ), verdict AS (
        -- longest matching path wins; equal length prefers allow
        SELECT url_id,
               first(rule ORDER BY plen DESC NULLS LAST, rule = 'allow' DESC) AS best
        FROM matched GROUP BY url_id
    ), wr AS (
        SELECT decode(record) AS s FROM read_parquet('{slice_dir}/warc.parquet')
    ), wp AS (
        SELECT regexp_extract(s, 'WARC-Type: ([a-z]+)', 1) AS wtype,
               CAST(regexp_extract(s, 'Content-Length: ([0-9]+)', 1) AS BIGINT) AS clen,
               substr(s, strpos(s, chr(13) || chr(10) || chr(13) || chr(10)) + 4) AS payload
        FROM wr
    ), resp AS (
        SELECT CAST(regexp_extract(payload, '^HTTP/[0-9.]+ ([0-9]{{3}})', 1) AS INT) AS status,
               length(substr(payload,
                   strpos(payload, chr(13) || chr(10) || chr(13) || chr(10)) + 4)) AS body_len
        FROM wp WHERE wtype = 'response'
    )
    SELECT 'edges', count(*), sum(n), 0, 0 FROM edges
    UNION ALL
    SELECT 'redirects', count(*), sum(hops), count(*) FILTER (outcome = 'dangling'),
           count(*) FILTER (outcome = 'too_many') FROM redir
    UNION ALL
    SELECT 'robots', count(*), count(*) FILTER (coalesce(best = 'allow', true)),
           coalesce(sum(url_id) FILTER (coalesce(best = 'allow', true)), 0),
           count(*) FILTER (best IS NULL) FROM verdict
    UNION ALL
    SELECT 'warc', count(*), sum(clen), count(*) FILTER (wtype = 'response'), 0 FROM wp
    UNION ALL
    SELECT 'http', count(*), sum(status), sum(body_len), 0 FROM resp
    """
    return rows(con.execute(sql, [list(inputs.ROBOTS_BODIES)]).fetchall())


# --------------------------------------------------------------------------
# per-workload checks: names of the outputs that differ from the reference
# --------------------------------------------------------------------------
def check_pages(con, slice_dir: str, result: dict, out_dir: str) -> list[str]:
    """The rollup must equal the reference as a multiset of rows (set
    operations in DuckDB, NULLs equal to NULLs); the rows each sink wrote,
    its lineage rows and the checkpoint must match the reference's counts."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {pages_rollup_sql(slice_dir)}")
    con.register("got", result["rollup"].select(PAGES_COLUMNS))
    differ = con.execute(
        "SELECT count(*) FROM ((FROM got EXCEPT ALL FROM want) "
        "UNION ALL (FROM want EXCEPT ALL FROM got))").fetchone()[0]
    con.unregister("got")
    sinks = dict(con.execute(
        "SELECT sink, sum(docs)::BIGINT FROM want WHERE metricset_interval = '1m' "
        "GROUP BY sink").fetchall())
    disk = written_sinks(con, out_dir)
    got = {
        "rollup": differ == 0,
        "fanout": disk["fanout"] == sinks,
        "lineage": disk["lineage"] == sinks,
        "checkpoint": disk["checkpoint"] == {"batch": sum(sinks.values())},
    }
    return [name for name, ok in got.items() if not ok]


def check_wire_crawl(con, slice_dir: str, result: dict, out_dir: str) -> list[str]:
    want = wire_outputs(con, slice_dir)
    want["crawl"] = crawl_summary(con, slice_dir)
    return [
        name for name, expected in want.items()
        if arrow_rows(result[name], CRAWL_COLUMNS if name == "crawl"
                      else result[name].column_names) != expected
    ]
