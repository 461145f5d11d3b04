"""Web-crawl curation operators: URL canonicalization and
registered-domain statistics — the curation band every crawl-derived
pretraining corpus runs before dedup (URL-level dedup needs canonical
forms; domain-level filtering/quotas need the registered-domain
relation; CCNet/RefinedWeb/FineWeb all start here).

The synthetic ``documents`` corpus has no URL column, so (the
synthetic-fixture convention) a deterministic URL is CONSTRUCTED from
doc_id inside Spark — mixed-case host, default/explicit/absent port,
1-3 path segments, optional query and fragment, every rotation coprime
so all combinations occur — and then PARSED BACK through the real
column pipeline (``parse_url`` + string algebra, all JVM-side inside
whole-stage codegen, zero UDFs).  The DuckDB oracle derives the
EXPECTED canonical fields directly from doc_id in closed form, so a
parser that keeps the fragment, drops a non-default port, forgets to
lowercase, or miscounts path depth breaks the hash.

Scale: ``url_canonical_features`` is a narrow per-row projection — no
shuffle, embarrassingly parallel, exactly the shape of a 100 TB crawl
manifest scan.  ``domain_doc_counts`` adds one hash-partial GROUP BY on
the registered domain (39 distinct keys here; a real crawl has ~10^7 —
still a bounded-cardinality aggregate with map-side combine).

The reference (/root/reference/ncd/) has no web-curation surface; this
extends the build brief's LLM-pipeline band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.registry import (
    fan_out,
    load_tables,
    query,
)

# rotations: 2 (scheme), 7 (subdomain), 13 (domain), 3 (tld), 9 (port),
# 3 (path depth via 1+doc_id%3), 10 (segment names), 5 (query), 11
# (fragment) — pairwise coprime where it matters, so every combination
# of scheme x port-kind x query x fragment occurs in any 990-doc window
_TLDS = ("com", "org", "net")


def _synth_url() -> "F.Column":
    """Deterministic mixed-case URL from doc_id (pure column algebra)."""
    did = F.col("doc_id")
    scheme = F.when(did % 2 == 0, "http").otherwise("https")
    host = F.concat(
        F.lit("W"),
        (did % 7).cast("string"),
        F.lit(".Example"),
        (did % 13).cast("string"),
        F.lit("."),
        F.element_at(F.array(*[F.lit(t) for t in _TLDS]), (did % 3 + 1).cast("int")),
    )
    port = (
        F.when((did % 9 == 0) & (did % 2 == 0), ":80")
        .when((did % 9 == 0) & (did % 2 == 1), ":443")
        .when(did % 9 == 1, ":8080")
        .otherwise("")
    )
    seg = [
        F.concat(F.lit("/seg"), ((did + i) % 10).cast("string"))
        for i in range(3)
    ]
    path = F.concat(
        seg[0],
        F.when(did % 3 >= 1, seg[1]).otherwise(""),
        F.when(did % 3 >= 2, seg[2]).otherwise(""),
    )
    q = F.when(
        did % 5 == 0, F.concat(F.lit("?q="), (did % 17).cast("string"))
    ).otherwise("")
    frag = F.when(
        did % 11 == 0, F.concat(F.lit("#frag"), (did % 6).cast("string"))
    ).otherwise("")
    return F.concat(scheme, F.lit("://"), host, port, path, q, frag)


def _canonical_fields(urls: DataFrame) -> DataFrame:
    """The real pipeline under test: parse_url + string algebra →
    (scheme, host, registered_domain, port, path_depth, has_query,
    canonical_url).  Canonicalization = lowercase host, drop the
    fragment, drop the DEFAULT port (80/http, 443/https), keep
    everything else byte-for-byte."""
    u = F.col("url")
    proto = F.parse_url(u, F.lit("PROTOCOL"))
    host = F.lower(F.parse_url(u, F.lit("HOST")))
    authority = F.parse_url(u, F.lit("AUTHORITY"))
    # AUTHORITY keeps the port, HOST strips it (Hive parse_url contract)
    port = F.when(
        F.length(authority) > F.length(F.parse_url(u, F.lit("HOST"))),
        F.substring_index(authority, ":", -1).cast("int"),
    )
    default_port = F.when(proto == "http", 80).otherwise(443)
    kept_port = F.when(port.isNotNull() & (port != default_port), port)
    path = F.parse_url(u, F.lit("PATH"))
    qs = F.parse_url(u, F.lit("QUERY"))
    canonical = F.concat(
        proto,
        F.lit("://"),
        host,
        F.when(
            kept_port.isNotNull(),
            F.concat(F.lit(":"), kept_port.cast("string")),
        ).otherwise(""),
        path,
        F.when(qs.isNotNull(), F.concat(F.lit("?"), qs)).otherwise(""),
    )
    return urls.select(
        "doc_id",
        proto.alias("scheme"),
        host.alias("host"),
        F.substring_index(host, ".", -2).alias("registered_domain"),
        F.coalesce(kept_port, F.lit(0)).cast("int").alias("port"),
        (F.length(path) - F.length(F.replace(path, F.lit("/"), F.lit(""))))
        .cast("int")
        .alias("path_depth"),
        qs.isNotNull().cast("int").alias("has_query"),
        canonical.alias("canonical_url"),
    )


# the oracle's closed-form twins of the construction above
_ORACLE_HOST = (
    "'w' || (doc_id % 7) || '.example' || (doc_id % 13) || '.' || "
    "CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END"
)
_ORACLE_PATH = (
    "'/seg' || ((doc_id + 0) % 10)"
    " || CASE WHEN doc_id % 3 >= 1 THEN '/seg' || ((doc_id + 1) % 10)"
    "         ELSE '' END"
    " || CASE WHEN doc_id % 3 >= 2 THEN '/seg' || ((doc_id + 2) % 10)"
    "         ELSE '' END"
)


@query(
    "url_canonical_features",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END AS scheme,
           {_ORACLE_HOST} AS host,
           'example' || (doc_id % 13) || '.' ||
               CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                    ELSE 'net' END AS registered_domain,
           CAST(CASE WHEN doc_id % 9 = 1 THEN 8080 ELSE 0 END
                AS INTEGER) AS port,
           CAST(1 + doc_id % 3 AS INTEGER) AS path_depth,
           CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END
                AS INTEGER) AS has_query,
           CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END
             || '://' || {_ORACLE_HOST}
             || CASE WHEN doc_id % 9 = 1 THEN ':8080' ELSE '' END
             || {_ORACLE_PATH}
             || CASE WHEN doc_id % 5 = 0 THEN '?q=' || (doc_id % 17)
                     ELSE '' END AS canonical_url
    FROM documents
    """,
)
def url_canonical_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization E2E: construct a deterministic mixed-case
    URL per document (scheme, subdomain, domain, tld, default/explicit/
    absent port, 1-3 path segments, optional query and fragment — all
    coprime rotations), parse it back through ``parse_url``, and emit
    the canonical fields.  The oracle derives every field in closed
    form from doc_id, so keeping the fragment, dropping the :8080 port,
    stripping a NON-default port, forgetting to lowercase, or
    miscounting path depth all break the hash.  Pure JVM column algebra
    (zero UDFs), narrow projection, no shuffle."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    urls = d.select("doc_id", _synth_url().alias("url"))
    return _canonical_fields(urls)


@query(
    "domain_doc_counts",
    oracle="""
    SELECT 'example' || (doc_id % 13) || '.' ||
               CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                    ELSE 'net' END AS registered_domain,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT doc_id % 7) AS n_hosts,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_query
    FROM documents
    GROUP BY 1
    """,
)
def domain_doc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain rollup over the canonicalized crawl manifest:
    documents and distinct hosts per registered domain plus the
    query-carrying count — the relation domain-quota and domain-filter
    policies (CCNet/RefinedWeb style) consume.  One hash GROUP BY with
    map-side combine on a bounded key space; at 100 TB the key space is
    ~10^7 registered domains, far under the shuffle's comfort zone."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    fields = _canonical_fields(d.select("doc_id", _synth_url().alias("url")))
    return fields.groupBy("registered_domain").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("host").alias("n_hosts"),
        F.sum("has_query").cast("bigint").alias("n_with_query"),
    )


# -- HTML link graph -------------------------------------------------------

def _synth_page(i: int, n: int) -> str:
    """Deterministic HTML page for doc ``i`` of an ``n``-doc corpus.
    Exercises everything a real extractor must survive: entity-encoded
    ampersands in hrefs, uppercase tags/attributes, an ``<a>`` with no
    href, a ``rel=nofollow`` link (must be excluded), a fragment-only
    link (resolves to self — excluded by the self-link rule), and a
    relative href that needs RFC 3986 resolution against the page URL."""
    h = i % 50
    t1, t2, t3, t4 = (3 * i + 1) % n, (7 * i + 2) % n, (i + 1) % n, (5 * i) % n
    parts = [
        f"<html><head><title>Doc {i}</title>",
        "<style>a {color: red}</style></head>",
        f"<body><h1>Doc &amp; page {i}</h1>",
        f'<a href="https://site{t1 % 50}.example.com/a/{t1}/page.html'
        f'?src={i}&amp;x=1">one</a>',
        '<p>text <a name="anchor-no-href">x</a></p>',
        f"<A HREF='https://site{t2 % 50}.example.com/a/{t2}/page.html'>two</A>",
    ]
    if i % 3 == 0:
        parts.append(f'<a href="../{t3}/page.html">rel</a>')
    if i % 4 == 0:
        parts.append(
            f'<a rel="nofollow" href="https://site{t4 % 50}.example.com'
            f'/a/{t4}/page.html">nf</a>'
        )
    parts.append('<a href="#top">top</a></body></html>')
    return "\n".join(parts)


def _extract_links_kernel(n_docs: int):
    """Arrow kernel: synthesize each doc's page, parse it with the real
    stdlib HTML parser (entity decode included), resolve every followed
    href against the page URL, strip fragments, and emit (src, resolved)
    rows.  nofollow and href-less anchors never leave the kernel."""
    import pandas as pd  # noqa: PLC0415

    def kernel(batches):
        from html.parser import HTMLParser  # noqa: PLC0415
        from urllib.parse import urldefrag, urljoin  # noqa: PLC0415

        class _Links(HTMLParser):
            def __init__(self):
                super().__init__()
                self.hrefs: list[str] = []

            def handle_starttag(self, tag, attrs):
                if tag != "a":
                    return
                d = dict(attrs)
                href = d.get("href")
                if href is None:
                    return
                if "nofollow" in (d.get("rel") or "").lower().split():
                    return
                self.hrefs.append(href)

        for pdf in batches:
            srcs, resolved = [], []
            for i in pdf["doc_id"]:
                i = int(i)
                base = f"https://site{i % 50}.example.com/a/{i}/page.html"
                p = _Links()
                p.feed(_synth_page(i, n_docs))
                for href in p.hrefs:
                    url, _frag = urldefrag(urljoin(base, href))
                    srcs.append(i)
                    resolved.append(url)
            yield pd.DataFrame({"src": pd.Series(srcs, dtype="int64"),
                                "resolved": resolved})

    return kernel


@query(
    "html_link_graph",
    oracle="""
    WITH nn AS (SELECT COUNT(*) AS n FROM documents),
    links AS (
        SELECT d.doc_id AS src, (3 * d.doc_id + 1) % nn.n AS tgt,
               1 AS has_q, 0 AS is_rel
        FROM documents d, nn
        UNION ALL
        SELECT d.doc_id, (7 * d.doc_id + 2) % nn.n, 0, 0
        FROM documents d, nn
        UNION ALL
        SELECT d.doc_id, (d.doc_id + 1) % nn.n, 0, 1 FROM documents d, nn
        WHERE d.doc_id % 3 = 0
    )
    SELECT tgt AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_inlinks,
           CAST(COUNT(DISTINCT src % 50) AS BIGINT) AS n_src_hosts,
           CAST(SUM(has_q) AS BIGINT) AS n_query_inlinks,
           CAST(SUM(CASE WHEN is_rel = 1 AND src % 50 <> tgt % 50
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_offsite_inlinks
    FROM links
    WHERE src <> tgt
    GROUP BY tgt
    """,
)
def html_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-graph extraction — the crawl-curation relation behind
    inlink-based quality weighting and seed expansion (OPIC/Common Crawl
    harmonic-centrality style): synthesize a deterministic HTML page per
    document, extract ``<a href>`` with the REAL stdlib parser (entity
    decode is load-bearing: the ``&amp;x=1`` query links are counted
    separately and an undecoded ampersand zeroes that column), resolve
    relative hrefs per RFC 3986, drop ``rel=nofollow`` / href-less /
    self links, and aggregate inlinks + distinct source hosts per
    target.  The oracle replays the link structure in closed form, so a
    parser, resolution, or exclusion bug breaks the hash.

    Plan: one narrow Arrow kernel (synthesize+parse+resolve, zero
    shuffle), then ONE hash aggregate keyed by target (map-side
    combined; the distinct-host count is the standard two-phase
    expansion).  At 100 TB the kernel side scales embarrassingly; the
    aggregate is the same shape as any inverted-edge count — skew on
    mega-targets is absorbed by partial aggregation before the
    exchange."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    n = docs.count()
    links = fan_out(docs.select("doc_id")).mapInPandas(
        _extract_links_kernel(n), schema="src bigint, resolved string"
    )
    tgt = F.regexp_extract("resolved", r"/a/(\d+)/page\.html", 1)
    parsed = links.select(
        "src",
        tgt.cast("long").alias("tgt"),
        F.parse_url("resolved", F.lit("HOST")).alias("link_host"),
        F.parse_url("resolved", F.lit("QUERY")).alias("q"),
        F.concat(
            F.lit("site"), (F.col("src") % 50).cast("string"),
            F.lit(".example.com"),
        ).alias("src_host"),
    ).filter(F.col("tgt").isNotNull() & (F.col("tgt") != F.col("src")))
    # a link is OFFSITE when the URL it was written with lives on a
    # different host than the target's canonical host — only relative
    # links can be (they inherit the SOURCE's host), which is what makes
    # the parsed link_host load-bearing for the oracle match
    canonical_tgt_host = F.concat(
        F.lit("site"), (F.col("tgt") % 50).cast("string"),
        F.lit(".example.com"),
    )
    return parsed.groupBy(F.col("tgt").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_inlinks"),
        F.countDistinct("src_host").alias("n_src_hosts"),
        F.sum(
            F.when(F.col("q").endswith("&x=1"), 1).otherwise(0)
        ).cast("bigint").alias("n_query_inlinks"),
        F.sum(
            F.when(F.col("link_host") != canonical_tgt_host, 1)
            .otherwise(0)
        ).cast("bigint").alias("n_offsite_inlinks"),
    )


# -- IP / CIDR blocklist ----------------------------------------------------

# deterministic blocklist: 10 ranges of width 2^24 spread over the IPv4
# space, aligned to 2^20 (a /12 boundary) — NOT /8-aligned, so most
# ranges straddle two /8 buckets and the bucket expansion below is
# load-bearing rather than one-row-per-range
_N_BLOCKS = 10
_BLOCK_WIDTH = 1 << 24


def _blocklist() -> list[tuple[int, int, int]]:
    """(block_id, start, end) — start 2^20-aligned, end exclusive."""
    out = []
    for kk in range(_N_BLOCKS):
        start = (kk * 429496729) & ~0xFFFFF
        out.append((kk, start, start + _BLOCK_WIDTH))
    return out


@query(
    "ip_cidr_filter",
    oracle="""
    WITH ips AS (
        SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS ip
        FROM documents
    ),
    blocks AS (
        SELECT kk AS block_id,
               (kk * 429496729) - ((kk * 429496729) % 1048576) AS bstart
        FROM range(0, 10) t(kk)
    )
    SELECT i.doc_id,
           CAST(ip // 16777216 AS BIGINT) || '.' ||
           CAST((ip // 65536) % 256 AS BIGINT) || '.' ||
           CAST((ip // 256) % 256 AS BIGINT) || '.' ||
           CAST(ip % 256 AS BIGINT) AS ip,
           b.block_id IS NOT NULL AS blocked,
           CAST(b.block_id AS BIGINT) AS block_id
    FROM ips i LEFT JOIN blocks b
      ON i.ip >= b.bstart AND i.ip < b.bstart + 16777216
    """,
)
def ip_cidr_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datacenter/abuse IP screening — the standard crawl-curation step
    of matching client IPs against CIDR blocklists.  A deterministic
    IPv4 per document (Knuth multiplicative hash, exact int64 algebra)
    is RENDERED to dotted-quad text and PARSED BACK (split + casts —
    the parse is the verified surface), then matched against the
    blocklist in the SCALE-CORRECT form: every CIDR range is exploded
    into its covering /8 prefix buckets and the match is an EQUI join
    on ``ip >> 24`` plus a residual range filter — a broadcast HASH
    join, not the nested-loop range join a naive BETWEEN produces.  At
    a real blocklist's size (~10^5 ranges → ≤2·10^5 bucket rows) the
    build side still broadcasts; the probe side never shuffles.

    The oracle recomputes ips and ranges in closed form with a plain
    range LEFT JOIN, so a bucket-expansion bug (a range straddling /8
    boundaries, an off-by-one at an exclusive end) breaks the match."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    ips = d.select(
        "doc_id",
        ((F.col("doc_id") * 2654435761) % F.lit(4294967296))
        .alias("ip_int"),
    ).select(
        "doc_id",
        F.concat_ws(
            ".",
            (F.col("ip_int") / 16777216).cast("long").cast("string"),
            ((F.col("ip_int") / 65536).cast("long") % 256).cast("string"),
            ((F.col("ip_int") / 256).cast("long") % 256).cast("string"),
            (F.col("ip_int") % 256).cast("string"),
        ).alias("ip"),
    )
    # parse BACK from text (the operation a real log pipeline performs)
    oct_ = F.split(F.col("ip"), r"\.")
    parsed = ips.select(
        "doc_id",
        "ip",
        (
            oct_.getItem(0).cast("long") * 16777216
            + oct_.getItem(1).cast("long") * 65536
            + oct_.getItem(2).cast("long") * 256
            + oct_.getItem(3).cast("long")
        ).alias("ip_int"),
    )
    # blocklist exploded into covering /8 buckets -> equi-joinable
    rows = []
    for bid, start, end in _blocklist():
        for bucket in range(start >> 24, ((end - 1) >> 24) + 1):
            rows.append((bid, bucket, start, end))
    blocks = spark.createDataFrame(
        rows, "block_id long, bucket long, bstart long, bend long"
    )
    probe = parsed.withColumn(
        "bucket", (F.col("ip_int") / 16777216).cast("long")
    )
    joined = probe.join(
        F.broadcast(blocks),
        (probe["bucket"] == blocks["bucket"])
        & (F.col("ip_int") >= F.col("bstart"))
        & (F.col("ip_int") < F.col("bend")),
        "left_outer",
    )
    return joined.select(
        "doc_id",
        "ip",
        F.col("block_id").isNotNull().alias("blocked"),
        F.col("block_id").cast("long").alias("block_id"),
    )


# -- robots.txt (RFC 9309) --------------------------------------------------

def _synth_robots(h: int) -> str:
    """Deterministic robots.txt for host ``h``: a ``*`` group with
    prefix, nested allow-override, and wildcard rules, plus a BadBot
    group that must be IGNORED by group selection, comments, blank
    lines, and mixed-case field names."""
    return "\n".join([
        "# synthetic robots for site%d" % h,
        "User-agent: BadBot",
        "Disallow: /",
        "",
        "User-Agent: *",
        f"disallow: /private{h}/",
        f"Allow: /private{h}/public/   # comment after value",
        "Disallow: /tmp",
        "Disallow: /a/*/draft",
        "Allow:",  # empty pattern = no rule (RFC 9309 §2.2.2)
    ])


def robots_rules(text: str, agent: str) -> list[tuple[bool, str]]:
    """Parse a robots.txt and return the (allow, pattern) rules of the
    group governing ``agent``: the group with the LONGEST matching
    user-agent token, ``*`` as fallback (RFC 9309 §2.2.1); successive
    ``User-agent`` lines share one group; comments and empty patterns
    dropped."""
    groups: list[tuple[list[str], list[tuple[bool, str]]]] = []
    agents: list[str] = []
    rules: list[tuple[bool, str]] = []
    in_group_header = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not in_group_header:
                if agents:
                    groups.append((agents, rules))
                agents, rules = [], []
                in_group_header = True
            agents.append(value.lower())
        elif field in ("allow", "disallow"):
            in_group_header = False
            if value:
                rules.append((field == "allow", value))
        else:
            in_group_header = False  # sitemap etc.: ends the header run
    if agents:
        groups.append((agents, rules))
    agent = agent.lower()
    best: list[tuple[bool, str]] | None = None
    best_len = -1
    star: list[tuple[bool, str]] | None = None
    for agents, rules in groups:
        for a in agents:
            if a == "*":
                star = rules if star is None else star
            elif a in agent and len(a) > best_len:
                best, best_len = rules, len(a)
    return best if best is not None else (star or [])


def _pattern_matches(pattern: str, path: str) -> bool:
    """REP path pattern: literal prefix with ``*`` wildcards and an
    optional ``$`` end anchor, matched from the start of the path."""
    import re  # noqa: PLC0415

    anchored = pattern.endswith("$")
    core = pattern[:-1] if anchored else pattern
    rx = ".*".join(re.escape(part) for part in core.split("*"))
    rx = "^" + rx + ("$" if anchored else "")
    return re.search(rx, path) is not None


def robots_decision(
    rules: list[tuple[bool, str]], path: str
) -> tuple[bool, str | None]:
    """RFC 9309 §2.2.2: the matching rule with the most specific
    (longest) pattern wins; allow wins length ties; no match = allow."""
    winner: tuple[bool, str] | None = None
    for allow, pattern in rules:
        if not _pattern_matches(pattern, path):
            continue
        if (
            winner is None
            or len(pattern) > len(winner[1])
            or (len(pattern) == len(winner[1]) and allow and not winner[0])
        ):
            winner = (allow, pattern)
    if winner is None:
        return True, None
    return winner[0], winner[1]


@query(
    "robots_txt_allow",
    oracle="""
    WITH base AS (
        SELECT doc_id, doc_id % 50 AS h, doc_id % 5 AS cls
        FROM documents
    )
    SELECT doc_id,
           CASE cls
               WHEN 0 THEN '/a/' || h || '/page.html'
               WHEN 1 THEN '/private' || h || '/file'
               WHEN 2 THEN '/private' || h || '/public/file'
               WHEN 3 THEN '/tmp/x'
               ELSE '/a/' || h || '/draft' END AS path,
           cls IN (0, 2) AS allowed,
           CASE cls
               WHEN 1 THEN '/private' || h || '/'
               WHEN 2 THEN '/private' || h || '/public/'
               WHEN 3 THEN '/tmp'
               WHEN 4 THEN '/a/*/draft'
               END AS rule,
           CAST(CASE cls
               WHEN 1 THEN length('/private' || h || '/')
               WHEN 2 THEN length('/private' || h || '/public/')
               WHEN 3 THEN 4
               WHEN 4 THEN 10
               ELSE 0 END AS BIGINT) AS rule_len
    FROM base
    """,
)
def robots_txt_allow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-exclusion evaluation (RFC 9309) — the fetch-side gate of
    every compliant crawler: parse each host's robots.txt with a REAL
    REP parser (group selection by user-agent token with ``*``
    fallback — the BadBot ``Disallow: /`` group must be ignored;
    comments, blank lines, mixed-case fields, empty patterns) and
    decide five path classes per host under the longest-match rule
    (most specific pattern wins, allow wins ties, no match = allow),
    wildcard patterns included.  The oracle states the expected
    decision, winning rule, and rule length in closed form, so a group
    mis-selection, a prefix/anchor bug, or a tie-break inversion breaks
    the hash.  One narrow Arrow kernel, zero shuffle."""
    import pandas as pd  # noqa: PLC0415

    def kernel(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                h, cls = i % 50, i % 5
                path = {
                    0: f"/a/{h}/page.html",
                    1: f"/private{h}/file",
                    2: f"/private{h}/public/file",
                    3: "/tmp/x",
                    4: f"/a/{h}/draft",
                }[cls]
                rules = robots_rules(_synth_robots(h), "ncdbot")
                allowed, rule = robots_decision(rules, path)
                rows.append({
                    "doc_id": i, "path": path, "allowed": allowed,
                    "rule": rule,
                    "rule_len": len(rule) if rule else 0,
                })
            yield pd.DataFrame(rows)

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return fan_out(d.select("doc_id")).mapInPandas(
        kernel,
        schema="doc_id bigint, path string, allowed boolean, "
               "rule string, rule_len bigint",
    )


# -- access-log parsing (Common Log Format / combined) -----------------------

_CLF_RX = (
    r'^(\S+) \S+ (\S+) \[([^\]]+)\] "(\S+) (\S+) [^"]*" '
    r'(\d{3}) (\S+) "([^"]*)" "([^"]*)"$'
)


@query(
    "access_log_features",
    oracle="""
    WITH ev AS (
        SELECT event_id AS eid, ts,
               CASE event_id % 7
                    WHEN 0 THEN 500 WHEN 1 THEN 404
                    WHEN 2 THEN 301 ELSE 200 END AS status,
               event_id % 3 <> 0 AS authed,
               (event_id * 2654435761) % 4294967296 AS ip
        FROM events
    )
    SELECT status,
           date_trunc('hour', ts) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_requests,
           CAST(SUM(CASE WHEN status <> 301
                         THEN eid % 10000 END) AS BIGINT) AS sum_bytes,
           CAST(SUM(CASE WHEN authed THEN 1 ELSE 0 END) AS BIGINT)
               AS n_authed,
           CAST(COUNT(DISTINCT ip // 16777216) AS BIGINT) AS n_ip_a
    FROM ev
    GROUP BY status, date_trunc('hour', ts)
    """,
)
def access_log_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-server access-log ingestion (combined log format — the other
    half of crawl/traffic curation beside WARC): RENDER one combined-CLF
    line per event with column algebra (dotted-quad ip, ``-`` for
    anonymous users and for 301 byte counts, the ``[dd/MMM/yyyy:HH:mm:ss
    +0000]`` timestamp, a quoted request line, quoted referer/UA with
    embedded spaces), then PARSE IT BACK with one regexp per field —
    the verified surface — mapping ``-`` to NULL, re-parsing the
    timestamp, and aggregating per (status, hour).  Everything is
    JVM-side codegen: zero UDFs, zero kernels, one hash aggregate.  The
    oracle computes the same rollup from the raw events closed-form, so
    a regex group slip, a dash-to-null miss, or a timestamp-format
    drift breaks the hash."""
    e = load_tables(spark, sf_dir, "events")["events"]
    eid = F.col("event_id")
    ip_int = (eid * 2654435761) % F.lit(4294967296)
    ip = F.concat_ws(
        ".",
        (ip_int / 16777216).cast("long").cast("string"),
        ((ip_int / 65536).cast("long") % 256).cast("string"),
        ((ip_int / 256).cast("long") % 256).cast("string"),
        (ip_int % 256).cast("string"),
    )
    user = F.when(eid % 3 == 0, "-").otherwise(
        F.concat(F.lit("u"), (eid % 50).cast("string")))
    method = F.element_at(
        F.array(F.lit("GET"), F.lit("POST"), F.lit("PUT")),
        (eid % 3 + 1).cast("int"))
    status = (
        F.when(eid % 7 == 0, 500).when(eid % 7 == 1, 404)
        .when(eid % 7 == 2, 301).otherwise(200)
    )
    nbytes = F.when(eid % 7 == 2, "-").otherwise(
        (eid % 10000).cast("string"))
    line = F.concat(
        ip, F.lit(" - "), user, F.lit(" ["),
        F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss Z"), F.lit('] "'),
        method, F.lit(" /a/"), (eid % 100).cast("string"),
        F.lit('/page HTTP/1.1" '),
        status.cast("string"), F.lit(" "), nbytes,
        F.lit(' "https://ref.example.com/x y" "Mozilla/5.0 (ncd bot)"'),
    )
    logs = e.select(F.col("ts").alias("true_ts"), line.alias("line"))
    # parse BACK with ONE regexp execution per line (r14, guide §1.2
    # per-task work): the previous per-field ``regexp_extract`` ran the
    # full CLF pattern once per group — 6 matches per row was the
    # query's dominant cost (measured ~40% of wall).  One
    # ``regexp_replace`` rewrites the line to its \x01-delimited groups
    # (every line matches by construction — the renderer above emitted
    # it from the same grammar), then a split + element_at projection
    # yields the identical per-field strings, '-' -> NULL and the
    # timestamp re-parse unchanged.
    fields = F.split(
        F.regexp_replace(
            "line", _CLF_RX,
            "$1\x01$2\x01$3\x01$4\x01$5\x01$6\x01$7\x01$8\x01$9",
        ),
        "\x01",
    )
    g = lambda i: F.element_at(fields, i)  # noqa: E731
    parsed = logs.select(
        g(1).alias("ip"),
        F.when(g(2) == "-", None).otherwise(g(2)).alias("user"),
        F.to_timestamp(g(3), "dd/MMM/yyyy:HH:mm:ss Z").alias("ts"),
        g(4).alias("method"),
        g(6).cast("int").alias("status"),
        F.when(g(7) == "-", None).otherwise(g(7)).cast("long")
        .alias("nbytes"),
        F.col("true_ts"),
    )
    return parsed.groupBy(
        "status", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_requests"),
        F.sum("nbytes").alias("sum_bytes"),
        F.sum(F.when(F.col("user").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_authed"),
        F.countDistinct(F.split("ip", r"\.").getItem(0)).alias("n_ip_a"),
    )


# -- end-to-end crawl curation ------------------------------------------------

@query(
    "crawl_corpus_build",
    oracle="""
    WITH blocks AS (
        SELECT (kk * 429496729) - ((kk * 429496729) % 1048576) AS bstart
        FROM range(0, 10) t(kk)
    ),
    staged AS (
        SELECT d.doc_id, d.text, d.n_chars,
               d.doc_id % 5 IN (0, 2) AS robots_ok,
               NOT EXISTS (
                   SELECT 1 FROM blocks b
                   WHERE (d.doc_id * 2654435761) % 4294967296 >= b.bstart
                     AND (d.doc_id * 2654435761) % 4294967296
                         < b.bstart + 16777216
               ) AS ip_ok,
               (2 * (d.doc_id % 7) < 10 AND d.doc_id % 4 < 3)
                   AS script_ok
        FROM documents d
    ),
    measured AS (
        SELECT s.*,
               CAST(len(string_split(s.text, ' ')) AS BIGINT) AS w,
               CAST(len(regexp_extract_all(s.text, '[aeiou]+'))
                    AS BIGINT) AS v,
               CAST((len(string_split(s.text, ' '))
                     + (4 + s.doc_id % 5) - 1)
                    // (4 + s.doc_id % 5) AS BIGINT) AS sc
        FROM staged s
    ),
    quality AS (
        SELECT m.*,
               (206835 * sc * w - 1015 * w * w - 84600 * v * sc
                >= 78000 * sc * w) AS quality_ok
        FROM measured m
    ),
    survivors AS (
        SELECT *, MIN(doc_id) OVER (PARTITION BY text) AS canonical
        FROM quality
        WHERE robots_ok AND ip_ok AND script_ok AND quality_ok
    ),
    disposed AS (
        SELECT doc_id,
               CASE WHEN NOT robots_ok THEN 'robots_denied'
                    WHEN NOT ip_ok THEN 'ip_blocked'
                    WHEN NOT script_ok THEN 'routed_nonlatin'
                    WHEN NOT quality_ok THEN 'low_quality'
                    ELSE NULL END AS dropped
        FROM quality
    )
    SELECT CASE WHEN doc_id = canonical THEN 'kept'
                ELSE 'near_duplicate' END AS disposition,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM survivors GROUP BY 1
    UNION ALL
    SELECT dropped, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(q.n_chars) AS BIGINT)
    FROM disposed dd JOIN quality q USING (doc_id)
    WHERE dropped IS NOT NULL
    GROUP BY dropped
    """,
)
def crawl_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END crawl curation — the continuation band composed as
    ONE pipeline, the crawl-side sibling of ``training_corpus_build``:

    1. robots gate (the RFC 9309 evaluator, REAL parser per host);
    2. CIDR screen (dotted-quad parse-back + prefix-bucketed hash join);
    3. script routing (regexp censuses over the injected mixed-script
       text — non-Latin-heavy docs route out);
    4. quality floor (the integer-exact Flesch band ≥ medium);
    5. exact dedup among the SURVIVORS (min-doc canonical — dedup after
       filtering, the order real pipelines use so junk can't shadow a
       keepable twin).

    Every stage runs its REAL operator implementation; the oracle
    replays all dispositions closed-form, so a stage-order bug, a
    filter inversion, or dedup-before-filter shadowing breaks the
    hash.  The near-duplicate class is EMPTY at the driver scales (none
    of the corpus's dup pairs survives every gate) — that absence is
    itself hash-checked: a wrong canonical computation inventing
    spurious duplicates changes the rowcount; the dedup stage's
    positive path is owned by ``dedup_exact_survivors``.  Plan: narrow
    gates + one broadcast join + one text-keyed dedup exchange — the
    same shapes as the stages standalone."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    did = F.col("doc_id")

    # 1. robots (real evaluator, same fixture as robots_txt_allow)
    import pandas as pd  # noqa: PLC0415

    def robots_kernel(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                h, cls = i % 50, i % 5
                path = {
                    0: f"/a/{h}/page.html",
                    1: f"/private{h}/file",
                    2: f"/private{h}/public/file",
                    3: "/tmp/x",
                    4: f"/a/{h}/draft",
                }[cls]
                rules = robots_rules(_synth_robots(h), "ncdbot")
                allowed, _rule = robots_decision(rules, path)
                rows.append({"doc_id": i, "robots_ok": allowed})
            yield pd.DataFrame(rows)

    robots = fan_out(d.select("doc_id")).mapInPandas(
        robots_kernel, schema="doc_id bigint, robots_ok boolean"
    )

    # 2. CIDR screen (real parse-back + bucket join)
    ip_int = (did * 2654435761) % F.lit(4294967296)
    ips = d.select(
        "doc_id",
        F.concat_ws(
            ".",
            (ip_int / 16777216).cast("long").cast("string"),
            ((ip_int / 65536).cast("long") % 256).cast("string"),
            ((ip_int / 256).cast("long") % 256).cast("string"),
            (ip_int % 256).cast("string"),
        ).alias("ip"),
    )
    oct_ = F.split(F.col("ip"), r"\.")
    parsed = ips.select(
        "doc_id",
        (
            oct_.getItem(0).cast("long") * 16777216
            + oct_.getItem(1).cast("long") * 65536
            + oct_.getItem(2).cast("long") * 256
            + oct_.getItem(3).cast("long")
        ).alias("ip_int"),
    ).withColumn("bucket", (F.col("ip_int") / 16777216).cast("long"))
    rows = []
    for bid, start, end in _blocklist():
        for bucket in range(start >> 24, ((end - 1) >> 24) + 1):
            rows.append((bid, bucket, start, end))
    blocks = spark.createDataFrame(
        rows, "block_id long, bucket long, bstart long, bend long"
    )
    screened = parsed.join(
        F.broadcast(blocks),
        (parsed["bucket"] == blocks["bucket"])
        & (F.col("ip_int") >= F.col("bstart"))
        & (F.col("ip_int") < F.col("bend")),
        "left_outer",
    ).select("doc_id", F.col("block_id").isNull().alias("ip_ok"))

    # 3. script routing + 4. quality (both pure column algebra over the
    # same constructions their standalone queries use)
    from national_caseload_data_ingest_spark.operators.cleaning import (  # noqa: PLC0415
        _CJK,
        _CYR,
    )

    def pick(lits, idx):
        return F.element_at(
            F.array(*[F.lit(c) for c in lits]), (idx + 1).cast("int"))

    combined = F.concat(
        F.col("text"),
        F.repeat(pick(_CYR, did % 32), (2 * (did % 7)).cast("int")),
        F.repeat(pick(_CJK, did % 100), (did % 4).cast("int")),
    )
    words = F.split(F.col("text"), " ")
    w = F.size(words).cast("long")
    v = F.regexp_count(F.col("text"), F.lit("[aeiou]+")).cast("long")
    sent_len = (F.lit(4) + did % 5).cast("long")
    s_cnt = (((w - 1 - ((w - 1) % sent_len)) / sent_len).cast("long")
             + F.lit(1))
    flesch_lhs = (F.lit(206835) * s_cnt * w - F.lit(1015) * w * w
                  - F.lit(84600) * v * s_cnt)
    gates = d.select(
        "doc_id", "text", "n_chars",
        (
            (F.regexp_count(combined, F.lit("[Ѐ-ӿ]")) < 10)
            & (F.regexp_count(combined, F.lit("[一-鿿]")) < 3)
        ).alias("script_ok"),
        (flesch_lhs >= F.lit(78000) * s_cnt * w).alias("quality_ok"),
    )

    # Barrier the staged relation (r14, guide §3.3): it feeds both the
    # dropped-census aggregate and the survivor dedup, and without a
    # barrier the whole gate pipeline — including the per-doc robots
    # PARSER kernel — ran once per branch (2 MapInPandas subtrees in
    # the before-plan).  Lazy localCheckpoint computes it once; use
    # reliable checkpoint on a real cluster.
    staged = (
        gates.join(robots, "doc_id").join(screened, "doc_id")
    ).localCheckpoint(eager=False)
    disposition = (
        F.when(~F.col("robots_ok"), "robots_denied")
        .when(~F.col("ip_ok"), "ip_blocked")
        .when(~F.col("script_ok"), "routed_nonlatin")
        .when(~F.col("quality_ok"), "low_quality")
    )
    dropped = staged.filter(disposition.isNotNull()).groupBy(
        disposition.alias("disposition")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    # 5. exact dedup among survivors only
    from pyspark.sql import Window  # noqa: PLC0415

    survivors = staged.filter(disposition.isNull()).withColumn(
        "canonical", F.min("doc_id").over(Window.partitionBy("text"))
    )
    kept = survivors.groupBy(
        F.when(F.col("doc_id") == F.col("canonical"), "kept")
        .otherwise("near_duplicate").alias("disposition")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    return kept.unionAll(dropped)
