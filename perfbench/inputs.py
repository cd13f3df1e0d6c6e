"""Seeded input tables for the benchmark, written as parquet in set-up.

Every table is a pure function of ``(seed, slice index)``: the same seed
writes byte-identical inputs.  The generators use NumPy and Arrow only, so
the program under test receives finished tables and never generates its
own input.  Parquet stands in for the Iceberg tables a cluster would scan.

Pages keep the FIXTURES.md section 1 properties: about 20% of rows on 3
hot domains, 1% malformed log lines (level and code missing), and 5 of the
50 domains absent from the ``domain_dim`` table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HOT_DOMAINS = [f"hot{i}.example.com" for i in range(3)]
COLD_DOMAINS = [f"d{i}.example.org" for i in range(47)]
MISSING_DOMAINS = COLD_DOMAINS[-5:]  # d42..d46: no dim row, geo 'unknown'
GEOS = ["us", "eu", "apac"]
CATEGORIES = ["news", "shop", "blog", "docs"]
EPOCH_2026 = 1767225600  # 2026-01-01T00:00:00Z
EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

# robots.txt bodies: the reference restates each body's decision table
ROBOTS_BODIES = [
    "User-agent: *\nDisallow: /private/\n\nAllow: /private/ok\n",
    "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"
    "\nUser-agent: GPTBot\nUser-agent: ccbot\nDisallow: /\n",
    "# crawl policy\r\nUser-agent: *\r\nDisallow: /private/\r\n"
    "\r\nUser-agent: CCBot\r\nDisallow: /\r\nAllow: /p/\r\n",
    "User-agent: *\nDisallow:\nCrawl-delay: 5\nSitemap: https://x/s.xml\n",
]
FRONTIER_PATHS = ["/private/ok", "/private/secret", "/p/", "/q"]
ROW_GROUPS = 8


def _s(values) -> pa.Array:
    """Any integer/str array-like as an Arrow string array."""
    return pa.array(values).cast(pa.string())


def _cat(*parts) -> pa.Array:
    """Element-wise string concatenation of arrays and scalars."""
    return pc.binary_join_element_wise(*parts, "")


def _pick(names: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(names, dtype=object)[idx], pa.string())


def _rng(seed: int, table: str, slice_ix: int) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, table)), slice_ix])


def _write(table: pa.Table, path: str) -> int:
    """One parquet file in ROW_GROUPS row groups, so a scan can split it."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=-(-table.num_rows // ROW_GROUPS))
    return table.num_rows


def domain_dim() -> pa.Table:
    """domain -> (geo, category, expected_lang) for 45 of the 50 domains."""
    known = [d for d in HOT_DOMAINS + COLD_DOMAINS if d not in MISSING_DOMAINS]
    ix = np.arange(len(known))
    return pa.table(
        {
            "domain": pa.array(known, pa.string()),
            "geo": _pick(GEOS, ix % len(GEOS)),
            "category": _pick(CATEGORIES, ix % len(CATEGORIES)),
            "expected_lang": _pick(["de", "en", "en", "en", "en"], ix % 5),
        }
    )


def pages(seed: int, slice_ix: int, n: int) -> pa.Table:
    """(url, warc_ts, html, text, lang, doc_id) with skew and 1% malformed."""
    rng = _rng(seed, "pages", slice_ix)
    doc_id = np.arange(slice_ix * n, (slice_ix + 1) * n, dtype=np.int64)
    hot = rng.random(n) < 0.2
    domain_ix = np.where(
        hot, rng.integers(0, 3, n), 3 + rng.integers(0, len(COLD_DOMAINS), n)
    )
    domain = _pick(HOT_DOMAINS + COLD_DOMAINS, domain_ix)
    path = _cat("p/", _s(rng.integers(0, 1000, n)))
    secs = EPOCH_2026 + rng.integers(0, 86400, n)
    ts = pa.array(secs * 1_000_000, pa.timestamp("us", tz="UTC"))
    iso = pc.strftime(ts, format="%Y-%m-%dT%H:%M:%SZ")
    level = _pick(["INFO", "WARN", "ERROR"], rng.choice(3, n, p=[0.7, 0.2, 0.1]))
    svc = _cat("svc-", _s(rng.integers(0, 20, n)))
    code = _s(rng.integers(100, 600, n))
    dur = _s(rng.integers(0, 1_000_000, n))
    verb = _pick(["GET", "POST", "PUT"], rng.integers(0, 3, n))
    msg = _cat('msg="', verb, " /", path, '"')
    well = _cat("ts=", iso, " level=", level, " svc=", svc, " code=", code,
                " dur_us=", dur, " ", msg)
    bad = _cat("ts=", iso, " svc=", svc, " dur_us=", dur, " ", msg)
    malformed = pa.array(rng.random(n) < 0.01)
    text = pc.if_else(malformed, bad, well)
    lang = _pick(["en", "de", "fr", "es", "ja"],
                 rng.choice(5, n, p=[0.6, 0.15, 0.1, 0.1, 0.05]))
    html = _cat("<html><head><title>T", _s(doc_id), "</title></head><body>",
                text, "</body></html>").cast(pa.binary())
    return pa.table(
        {
            "url": _cat("https://", domain, "/", path),
            "warc_ts": ts,
            "html": html,
            "text": text,
            "lang": lang,
            "doc_id": pa.array(doc_id),
        }
    )


def events(seed: int, slice_ix: int, n: int) -> pa.Table:
    """The ``events`` table shape the wire-protocol registry queries read."""
    rng = _rng(seed, "events", slice_ix)
    event_id = np.arange(slice_ix * n, (slice_ix + 1) * n, dtype=np.int64)
    micros = EPOCH_2024 * 1_000_000 + rng.integers(0, 30 * 86400 * 1_000_000, n)
    return pa.table(
        {
            "event_id": pa.array(event_id),
            "ts": pa.array(micros, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n)),
            "event_type": _pick(EVENT_TYPES, rng.integers(0, len(EVENT_TYPES), n)),
            "value": pa.array(np.round(rng.random(n) * 50, 2)),
            "props": _cat('{"k": ', _s(rng.integers(0, 100, n)), "}"),
        }
    )


def linked_pages(seed: int, slice_ix: int, n: int) -> pa.Table:
    """(url, html) pages whose anchors cover absolute, single-quoted,
    uppercase, root-relative, protocol-relative and non-link hrefs."""
    rng = _rng(seed, "linked", slice_ix)
    hosts = HOT_DOMAINS + COLD_DOMAINS
    page = slice_ix * n + np.arange(n)
    src = _pick(hosts, rng.integers(0, len(hosts), n))

    def host() -> pa.Array:
        return _pick(hosts, rng.integers(0, len(hosts), n))

    def maybe(p: float, value: pa.Array) -> pa.Array:
        return pc.if_else(pa.array(rng.random(n) < p), value, "")

    links = _cat(
        '<a href="https://', host(), "/p/", _s(rng.integers(0, 97, n)), '">x</a>',
        maybe(0.7, _cat("<a class='c' href='https://", host(), "/q'>y</a>")),
        maybe(0.5, _cat("<A HREF='https://", host(), "/u'>U</A>")),
        maybe(0.5, _cat("<a href='/p/", _s(rng.integers(0, 1000, n)), "'>r</a>")),
        maybe(0.3, _cat('<a href="//', host(), '/pp">w</a>')),
        maybe(0.1, pa.array(['<a href="">e</a><a href="#top">t</a>'
                             '<a href="mailto:crawl@example.org">m</a>'] * n)),
    )
    return pa.table(
        {
            "url": _cat("https://", src, "/p/", _s(page)),
            "html": _cat("<html><body><p>page ", _s(page), "</p><nav>", links,
                         "</nav></body></html>").cast(pa.binary()),
        }
    )


def fetch_log(seed: int, slice_ix: int, n: int) -> pa.Table:
    """(url, status, location): redirect chains with relative and absolute
    Locations, chains leaving the log, 2-cycles and failed fetches."""
    rng = _rng(seed, "fetch", slice_ix)
    ids = slice_ix * n + np.arange(n, dtype=np.int64)
    # kinds: 0 ok, 1 relative redirect, 2 absolute redirect, 3 redirect out
    # of the log, 4 failed fetch (NULL status) with a Location, 5/6 2-cycle
    kind = rng.choice(6, n, p=[0.4, 0.2, 0.15, 0.1, 0.1, 0.05])
    # 2-cycles need a partner: an even id cycles with id+1 and back
    even = (ids % 2 == 0) & (np.arange(n) < n - 1)
    cyc_a = (kind == 5) & even
    cyc_b = np.roll(cyc_a, 1)
    kind = np.where(cyc_b, 6, np.where((kind == 5) & ~even, 0, kind))
    status = np.select(
        [kind == 0, kind == 1, kind == 2, kind == 3, kind == 4],
        [200, 301, 302, 301, -1], 301,
    )
    loc = np.select(
        [kind == 1, kind == 2, kind == 3, kind == 4, kind == 5, kind == 6],
        [_o("/p/", ids + 1), _o("https://h.io/p/", ids + 2),
         np.full(n, "https://gone.example/x", dtype=object), _o("/p/", ids + 1),
         _o("/p/", ids + 1), _o("/p/", ids - 1)],
        None,
    )
    return pa.table(
        {
            "url": _cat("https://h.io/p/", _s(ids)),
            "status": pa.array(status, pa.int32(), mask=status < 0),
            "location": pa.array(loc, pa.string()),
        }
    )


def _o(prefix: str, ids: np.ndarray) -> np.ndarray:
    return np.char.add(prefix, ids.astype(str)).astype(object)


def robots(seed: int, slice_ix: int, n_hosts: int) -> pa.Table:
    """(host, body): every host serves one of the ROBOTS_BODIES; a tenth of
    the frontier hosts have no robots.txt at all."""
    rng = _rng(seed, "robots", slice_ix)
    have = np.flatnonzero(rng.random(n_hosts) >= 0.1)
    body = _pick(ROBOTS_BODIES, rng.integers(0, len(ROBOTS_BODIES), have.size))
    return pa.table(
        {
            "host": _cat("r", _s(have), ".example.org"),
            "body": body.cast(pa.binary()),
        }
    )


def frontier(seed: int, slice_ix: int, n: int, n_hosts: int) -> pa.Table:
    """(url_id, url) over the robots hosts and four path shapes."""
    rng = _rng(seed, "frontier", slice_ix)
    path = _pick(FRONTIER_PATHS, rng.integers(0, len(FRONTIER_PATHS), n))
    path = pc.if_else(pc.equal(path, "/p/"),
                      _cat("/p/", _s(rng.integers(0, 9, n))), path)
    return pa.table(
        {
            "url_id": pa.array(slice_ix * n + np.arange(n, dtype=np.int64)),
            "url": _cat("https://r", _s(rng.integers(0, n_hosts, n)),
                        ".example.org", path),
        }
    )


def warc_records(seed: int, slice_ix: int, n: int) -> pa.Table:
    """(rec_id, record): real WARC/1.0 records; a tenth are ``request``
    records, a seventh of the responses are 404 text/plain."""
    rng = _rng(seed, "warc", slice_ix)
    ids = slice_ix * n + np.arange(n, dtype=np.int64)
    sid = _s(ids)
    is_req = pa.array(rng.random(n) < 0.1)
    is_404 = pa.array(rng.random(n) < 1 / 7)
    cookies = pa.array(rng.random(n) < 0.2)
    words = _s(rng.integers(0, 10**9, n))
    uri = _cat("https://d", _s(rng.integers(0, 40, n)), ".example.org/p/", sid)
    body = _cat("<!DOCTYPE html><p>doc ", sid, " ", words, "</p>")
    http = _cat(
        pc.if_else(is_404, "HTTP/1.1 404 Not Found\r\nContent-Type: text/plain\r\n",
                   "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n"),
        pc.if_else(cookies, "Set-Cookie: a=1\r\nSet-Cookie: b=2\r\n", ""),
        "Server: bench\r\n\r\n", body,
    )
    request = _cat("GET /p/", sid, " HTTP/1.1\r\nHost: example.org\r\n\r\n")
    payload = pc.if_else(is_req, request, http)
    secs = EPOCH_2026 + rng.integers(0, 86400, n)
    date = pc.strftime(pa.array(secs * 1_000_000, pa.timestamp("us", tz="UTC")),
                       format="%Y-%m-%dT%H:%M:%SZ")
    record = _cat(
        "WARC/1.0\r\nWARC-Type: ", pc.if_else(is_req, "request", "response"),
        "\r\nWARC-Target-URI: ", uri, "\r\nWARC-Date: ", date,
        "\r\nWARC-Record-ID: <urn:uuid:", sid, ">\r\nContent-Length: ",
        _s(pc.binary_length(payload)), "\r\n\r\n", payload,
    )
    return pa.table({"rec_id": pa.array(ids), "record": record.cast(pa.binary())})


def write_pages(d: str, seed: int, k: int, sizes: dict) -> int:
    """Slice ``k`` of the pages job: the pages and the domain dimension."""
    _write(domain_dim(), f"{d}/domain_dim.parquet")
    return _write(pages(seed, k, sizes["pages"]), f"{d}/pages.parquet")


def write_wire_crawl(d: str, seed: int, k: int, sizes: dict) -> int:
    """Slice ``k`` of the wire and crawl job: events and the crawl tables."""
    hosts = sizes["robots_hosts"]
    return sum((
        _write(events(seed, k, sizes["events"]), f"{d}/events.parquet"),
        _write(linked_pages(seed, k, sizes["linked"]), f"{d}/linked.parquet"),
        _write(fetch_log(seed, k, sizes["fetch"]), f"{d}/fetch.parquet"),
        _write(robots(seed, k, hosts), f"{d}/robots.parquet"),
        _write(frontier(seed, k, sizes["frontier"], hosts), f"{d}/frontier.parquet"),
        _write(warc_records(seed, k, sizes["warc"]), f"{d}/warc.parquet"),
    ))


def write_slices(root: str, seed: int, n_slices: int, writer, sizes: dict) -> list[dict]:
    """Materialize ``n_slices`` input slices under ``root`` with ``writer``
    (one of the ``write_*`` functions above).  Returns per slice its
    directory and total row count."""
    out = []
    for k in range(n_slices):
        d = os.path.join(root, f"slice{k}")
        out.append({"dir": d, "rows": writer(d, seed, k, sizes)})
    return out
