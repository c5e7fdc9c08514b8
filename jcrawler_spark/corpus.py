"""Deterministic synthetic Common-Crawl-style pages corpus (FIXTURES.md §1/§3).

The authoritative input table (BASELINE.json ``input_hint``) is
``pages(url, warc_ts, html, text, lang)`` (+ HTTP columns, schemas.PAGES).
This module generates it at any scale, *distributed*: a pure per-page record
function mapped over ``spark.range`` via Arrow-batched ``mapInPandas`` — no
driver-side loops, so the bench corpus (10⁶–10⁷ pages) builds in parallel and
the same code would run on a 1000-executor cluster.

Graph (FIXTURES.md §3): page i links to children i*3+1..i*3+3 (K=3 fan-out),
10% deterministic cross-links i→(i*7)%n (re-discovery → first-wins dedup,
JCrawler.java:1236-1238), a self-link every 50th page (self-filter,
JCrawler.java:1233-1235), external off-accept links every 10th page (accept
filter + ignored-domains side output, JCrawler.java:916-937). 2% of pages are
301 redirects (isRedirect always-accept, JCrawler.java:955-960,1428-1444),
1% are 404, 1% of hosts are "failing" (10-min backoff gate,
JCrawler.java:870-872,1000-1003). Host 0 is a mega-host holding ~30% of URLs
(exercises skew salting). The `text` column is ``textops.extract_text(html)``
by construction — the byte-identical invariant the engine must reproduce.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from jcrawler_spark import schemas
from jcrawler_spark.functions import textops, urlops

K_FANOUT = 3
_EPOCH = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)

# rotating golden HTML fragments (FIXTURES.md §4); {h} = host id
_FRAGMENTS = [
    # f_img + data-URI img (data: skipped, JCrawlerLinkExtractionTest.java:9-96)
    "<img src='https://host{h}.example/static/img{v}.png'>"
    "<img src='data:image/png;base64,iVBORw0KGgo='>",
    # f_img_srcset_commas — Wix-style commas inside URLs (SrcsetExtractionTest)
    '<img srcset="https://host{h}.example/media/a_{v}.jpg/v1/fill,w_60,h_60/a.jpg 1x, '
    'https://host{h}.example/media/a_{v}.jpg/v1/fill,w_120,h_120/a.jpg 2x">',
    # f_css_url — url() in a style attribute (JCrawler.java:352-355)
    "<div style=\"background:url('/static/bg{v}.jpg')\">x</div>",
    # f_script_src (JCrawler.java:382-388)
    '<script src="/static/app{v}.js"></script>',
    # f_link_tag icon (JCrawler.java:357-360)
    "<link rel='icon' href='/static/favicon{v}.png'>",
    # f_robots block — directives parsed as links (JCrawler.java:362-365)
    "<pre>Sitemap: https://host{h}.example/sitemap{v}.xml\n"
    "Disallow: /private{v}/\n</pre>",
    # f_xml — sitemap loc + xml-stylesheet (JCrawler.java:390-398)
    "<loc>https://host{h}.example/from-sitemap/{v}</loc>",
    # f_skips — template var, overlong, tel/mailto (extracted then filtered)
    "<a href='${{i.uri}}'>tpl</a><a href='/q?x=" + "z" * 2001 + "'>long</a>"
    "<a href='tel:+40123456789'>call</a><a href='mailto:x@y.z'>mail</a>",
]

_EN_SENT = (
    "the quick brown fox jumps over the lazy dog and runs to the forest "
    "with a plan that is good for all of the animals in the story"
)
_RO_SENT = (
    "aceasta este o pagină de test și conține cuvinte din limba română "
    "pentru care motorul de analiză este pregătit cu atenție la detalii"
)


def host_of(i: int, n_hosts: int) -> int:
    """Zipf-ish host assignment: host 0 gets ~30% of pages (mega-host)."""
    if n_hosts <= 1:
        return 0
    mix = (i * 2654435761) & 0xFFFFFFFF
    if mix % 10 < 3:
        return 0
    return 1 + (mix >> 8) % (n_hosts - 1)


def depth_of(i: int) -> int:
    """BFS depth of page i in the K-ary tree rooted at 0."""
    d = 0
    while i > 0:
        i = (i - 1) // K_FANOUT
        d += 1
    return d


def url_of(i: int, n_hosts: int) -> str:
    return f"https://host{host_of(i, n_hosts)}.example/p/{depth_of(i)}/{i}"


def is_failing_host(h: int) -> bool:
    """1% of hosts fail on fetch (and host 7 in the tiny 8-host corpus)."""
    return h % 100 == 7


def status_of(i: int) -> int:
    if i % 50 == 1:
        return 301
    if i % 100 == 2:
        return 404
    return 200


def child_ids(i: int, n_pages: int) -> list[int]:
    return [i * K_FANOUT + j for j in range(1, K_FANOUT + 1) if i * K_FANOUT + j < n_pages]


def page_record(i: int, n_pages: int, n_hosts: int, body_repeat: int = 1) -> dict:
    """One deterministic pages-table row. Pure — shared by the Spark
    generator and the pure-Python crawl oracle.

    body_repeat multiplies the body text block (1 ≈ 0.4 KB of html per 200
    page for unit tests; 25 ≈ 4.4 KB for the scaling benchmark —
    extraction cost per page then dominates superstep overhead, which is
    the regime a real crawl runs in)."""
    h = host_of(i, n_hosts)
    url = url_of(i, n_hosts)
    status = status_of(i)
    lang = "ro" if i % 10 == 9 else "en"
    location = None

    if status == 301:
        location = url_of((i * 13 + 1) % n_pages, n_hosts)
        html_str = "<html><body>Moved</body></html>"
    elif status == 404:
        html_str = "<html><body>Not found</body></html>"
    else:
        links = [
            f"<a href='{url_of(c, n_hosts)}'>child {c}</a>"
            for c in child_ids(i, n_pages)
        ]
        if i % 10 == 3:  # deterministic cross-link (re-discovery)
            links.append(f"<a href='{url_of((i * 7) % n_pages, n_hosts)}'>cross</a>")
        if i % 50 == 0:  # self-link (must be dropped by F8)
            links.append(f"<a href='{url}'>self</a>")
        if i % 10 == 7:  # external off-accept link
            links.append(
                f"<a href='https://external{i % 5}.example/offsite/{i}'>ext</a>"
            )
        sent = _RO_SENT if lang == "ro" else _EN_SENT
        frag = _FRAGMENTS[i % len(_FRAGMENTS)].format(h=h, v=i % 20)
        body = "\n".join(
            f"<p>{sent} — page {i} depth {depth_of(i)} block {b}</p>"
            for b in range(body_repeat)
        )
        html_str = (
            f"<html><head><title>Page {i}</title></head><body>\n"
            f"<h1>Page {i} on host{h}</h1>\n"
            f"{body}\n"
            + "\n".join(links)
            + "\n"
            + frag
            + "\n</body></html>"
        )

    html_bytes = html_str.encode("utf-8")
    return {
        "url": url,
        "warc_ts": _EPOCH + _dt.timedelta(seconds=i),
        "html": html_bytes,
        "text": textops.extract_text(html_str),
        "lang": lang,
        "status": status,
        "location": location,
        "content_type": "text/html; charset=utf-8",
        "host": f"host{h}.example",
        "url_hash": urlops.url_hash(url),
        "fetch_ts": _EPOCH + _dt.timedelta(seconds=i),
        "error": None,
    }


def local_pages(n_pages: int, n_hosts: int = 8) -> list[dict]:
    """Driver-side tiny corpus for unit tests and the pure-Python oracle."""
    return [page_record(i, n_pages, n_hosts) for i in range(n_pages)]


def recrawl_html(i: int, n_pages: int, n_hosts: int = 8) -> str:
    """Deterministic "second crawl" of page i — the mirror/recrawl variant
    the page-diff workflow audits. Pure (shared by the Spark generator and
    the DuckDB VALUES oracle). Three deterministic families:

      i%3==0  cosmetic-only mirror noise (tag case, whitespace) — MUST
              diff to zero after normalize_html;
      i%3==1  content insertion (a new paragraph before </body>);
      i%3==2  content modification ("Page" → "Pagina" in title/h1/body).

    Non-200 pages (Moved/Not found bodies) simply don't contain the
    mutation anchors, so their variants stay cosmetic — still
    deterministic, still pinned by the oracle."""
    html = page_record(i, n_pages, n_hosts)["html"].decode("utf-8")
    k = i % 3
    if k == 0:
        return html.replace("<html>", "<HTML >").replace(
            "<body>", "<BODY >"
        ).replace("</p>", " </P>")
    if k == 1:
        return html.replace("</body>", f"<p>revision note {i}</p>\n</body>")
    return html.replace("Page ", "Pagina ")


def build_recrawl_df(
    spark: SparkSession,
    n_pages: int,
    n_hosts: int = 8,
    partitions: int | None = None,
) -> DataFrame:
    """(url, old_html, new_html) pairs for the page-diff contract query —
    distributed the same way as build_pages_df (no driver loop)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in (int(x) for x in b["id"]):
                rec = page_record(i, n_pages, n_hosts)
                rows.append(
                    {
                        "url": rec["url"],
                        "old_html": rec["html"].decode("utf-8"),
                        "new_html": recrawl_html(i, n_pages, n_hosts),
                    }
                )
            yield pd.DataFrame(rows)

    rng = spark.range(n_pages)
    if partitions:
        rng = rng.repartition(partitions)
    return rng.mapInPandas(
        gen, schema="url string, old_html string, new_html string"
    )


def embedding_record(i: int, dim: int = 8, n_clusters: int = 6) -> dict:
    """One deterministic synthetic embedding — integer-derived rationals
    only, so the Spark generator and a numpy/pure-Python oracle produce
    BYTE-IDENTICAL doubles (no RNG, no platform-dependent transcendentals).
    Vectors form n_clusters well-separated clusters with small jitter —
    the shape ANN/IVF recall tests need."""
    c = i % n_clusters
    vec = []
    for j in range(dim):
        # (2c + 3j) mod 7: step-2 in c is coprime to 7, so every cluster
        # gets a distinct per-dimension level pattern (no center collisions)
        center = (((2 * c + 3 * j) % 7) - 3) / 3.0
        jitter = (((i * 131071 + j * 524287) % 1000003) / 1000003.0 - 0.5) * 0.2
        vec.append(center + jitter)
    return {"vec_id": i, "cluster": c, "embedding": vec}


def local_embeddings(n: int, dim: int = 8, n_clusters: int = 6) -> list[dict]:
    return [embedding_record(i, dim, n_clusters) for i in range(n)]


def build_embeddings_df(
    spark: SparkSession,
    n: int,
    dim: int = 8,
    n_clusters: int = 6,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed synthetic-embedding build (same mapInPandas shape as
    build_pages_df — no driver loop)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                [embedding_record(int(i), dim, n_clusters) for i in b["id"]]
            )

    rng = spark.range(n)
    if partitions:
        rng = rng.repartition(partitions)
    return rng.mapInPandas(
        gen, schema="vec_id long, cluster int, embedding array<double>"
    )


def build_pages_df(
    spark: SparkSession,
    n_pages: int,
    n_hosts: int = 8,
    partitions: int | None = None,
    body_repeat: int = 1,
) -> DataFrame:
    """Distributed corpus build: spark.range → Arrow-batched mapInPandas.
    Scales linearly with executors; no driver loop."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [
                page_record(int(i), n_pages, n_hosts, body_repeat)
                for i in b["id"]
            ]
            yield pd.DataFrame(rows)

    rng = spark.range(n_pages)
    if partitions:
        rng = rng.repartition(partitions)
    return rng.mapInPandas(gen, schema=schemas.PAGES)


def write_pages(
    spark: SparkSession,
    path: str,
    n_pages: int,
    n_hosts: int = 8,
    partitions: int | None = None,
    body_repeat: int = 1,
) -> None:
    build_pages_df(spark, n_pages, n_hosts, partitions, body_repeat).write.mode(
        "overwrite"
    ).parquet(path)


def _pages_ddl() -> str:
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in schemas.PAGES.fields
    )


def write_pages_bucketed(
    spark: SparkSession,
    path: str,
    table_name: str,
    n_pages: int,
    n_hosts: int = 8,
    partitions: int | None = None,
    body_repeat: int = 1,
    buckets: int = 32,
) -> DataFrame:
    """Write the corpus as a parquet table BUCKETED BY url — the sandbox
    analogue of an Iceberg pages table bucket-partitioned on url. A join
    against it on `url` shuffles only the other side (the wave): the
    one-sided-shuffle fetch shape the engine's large-wave path is designed
    for (engine.SyntheticFetcher docstring)."""
    df = build_pages_df(spark, n_pages, n_hosts, partitions, body_repeat)
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(buckets, "url")
        .sortBy("url")
        .saveAsTable(table_name)
    )
    return spark.table(table_name)


def read_pages_bucketed(
    spark: SparkSession, path: str, table_name: str, buckets: int = 32
) -> DataFrame:
    """(Re-)register an existing bucketed corpus written by
    write_pages_bucketed in THIS session's (in-memory) catalog and return
    it. Bucket ids are recovered from the Spark bucketed file naming, so
    the bucketed-scan plan survives session restarts."""
    if not spark.catalog.tableExists(table_name):
        spark.sql(
            f"CREATE TABLE {table_name} ({_pages_ddl()}) USING parquet "
            f"CLUSTERED BY (url) SORTED BY (url) INTO {buckets} BUCKETS "
            f"LOCATION '{path}'"
        )
    return spark.table(table_name)
