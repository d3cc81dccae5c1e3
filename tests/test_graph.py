"""Host link-graph operators: PageRank power iteration and HTML link
extraction (operators/web.py::host_pagerank / extract_links)."""

from collections import defaultdict

import pytest

from hbase_packet_inspector_spark.operators.web import (
    crawl_frontier,
    extract_links,
    host_pagerank,
    html_to_text,
)


def _ref_pagerank(edges, damping=0.85, iters=5):
    """Driver-side reference of the documented semantics: uniform init,
    weighted split over out-links, dangling mass teleports uniformly,
    rank' = (1-d)/N + d*(contrib + dangling/N), 9-decimal rounding per
    round (matching the operator's engine-exactness rule). A NULL weight
    counts 0, and a host whose out-weight is 0 is dangling."""
    agg = defaultdict(float)
    for s, t, w in edges:
        agg[(s, t)] += float(w or 0)
    ow = defaultdict(float)
    for (s, _t), w in agg.items():
        ow[s] += w
    nodes = sorted({s for s, _ in agg} | {t for _, t in agg})
    n = len(nodes)
    rank = {h: round(1.0 / n, 9) for h in nodes}
    for _ in range(iters):
        dangling = sum(r for h, r in rank.items() if ow.get(h, 0.0) <= 0)
        contrib = defaultdict(float)
        for (s, t), w in agg.items():
            if ow[s] > 0:
                contrib[t] += rank[s] * w / ow[s]
        rank = {
            h: round(
                (1.0 - damping) / n
                + damping * (contrib.get(h, 0.0) + dangling / n),
                9,
            )
            for h in nodes
        }
    return rank, ow


def test_pagerank_matches_reference_power_iteration(spark):
    # A <-> B, both -> C (dangling), plus a weighted self-reinforcing D
    edges = [
        ("a.com", "b.com", 1), ("b.com", "a.com", 1),
        ("a.com", "c.com", 1), ("b.com", "c.com", 3),
        ("d.com", "a.com", 2),
    ]
    df = spark.createDataFrame(edges, "src_host string, dst_host string, w int")
    out = {
        r.host: r
        for r in host_pagerank(df, weight_col="w", iters=5).collect()
    }
    ref, ow = _ref_pagerank(edges)
    assert set(out) == set(ref)
    for h, expected in ref.items():
        assert out[h].pagerank == pytest.approx(expected, abs=1e-6)
        assert out[h].out_links == int(ow.get(h, 0))
    # rank is conserved: teleport + dangling redistribution keep sum ~1
    assert sum(r.pagerank for r in out.values()) == pytest.approx(1.0, abs=1e-5)
    # c is dangling: no out_links, yet holds rank via in-links
    assert out["c.com"].out_links == 0
    assert out["c.com"].pagerank > (1 - 0.85) / len(ref)


def test_pagerank_no_dangling_fast_path_matches_reference(spark):
    # every node has an out-link, so the r12 dangling-free fast path is
    # taken (the per-round dangling aggregate is skipped because dm is
    # provably 0.0) — ranks must still equal the generic reference
    # formula with dangling = 0 exactly
    edges = [
        ("a.com", "b.com", 1), ("b.com", "c.com", 2),
        ("c.com", "a.com", 1), ("c.com", "b.com", 1),
    ]
    df = spark.createDataFrame(edges, "src_host string, dst_host string, w int")
    out = {
        r.host: r
        for r in host_pagerank(df, weight_col="w", iters=5).collect()
    }
    ref, ow = _ref_pagerank(edges)
    assert set(out) == set(ref)
    for h, expected in ref.items():
        assert out[h].pagerank == pytest.approx(expected, abs=1e-6)
        assert out[h].out_links == int(ow.get(h, 0))
    assert sum(r.pagerank for r in out.values()) == pytest.approx(1.0, abs=1e-5)


def test_pagerank_zero_out_weight_hosts_are_dangling(spark):
    # z's only out-edge weighs 0 and n's out-edges are all NULL: neither
    # can split its rank over out-links, so both teleport it like c
    # (no out-links at all) and no rank mass leaks
    edges = [
        ("a.com", "b.com", 1), ("b.com", "a.com", 2), ("b.com", "c.com", 1),
        ("z.com", "a.com", 0), ("n.com", "b.com", None),
        ("n.com", "c.com", None),
    ]
    df = spark.createDataFrame(edges, "src_host string, dst_host string, w int")
    out = {
        r.host: r
        for r in host_pagerank(df, weight_col="w", iters=5).collect()
    }
    ref, _ = _ref_pagerank(edges)
    assert set(out) == set(ref)
    for h, expected in ref.items():
        assert out[h].pagerank == pytest.approx(expected, abs=1e-6)
    assert out["z.com"].out_links == 0 and out["n.com"].out_links == 0
    assert sum(r.pagerank for r in out.values()) == pytest.approx(1.0, abs=1e-5)


def test_pagerank_hub_outranks_leaf_and_duplicate_edges_aggregate(spark):
    # everyone links the hub; hub links one leaf. Duplicate rows must
    # aggregate into weights, not create parallel semantics.
    edges = [(f"s{i}.com", "hub.com", 1) for i in range(8)]
    edges += [("hub.com", "leaf.com", 1)]
    edges += [("s0.com", "hub.com", 1)]  # duplicate edge row
    df = spark.createDataFrame(edges, "src_host string, dst_host string, w int")
    out = {r.host: r.pagerank for r in host_pagerank(df, iters=5).collect()}
    ref, _ = _ref_pagerank([(s, t, w) for s, t, w in edges])
    for h, expected in ref.items():
        assert out[h] == pytest.approx(expected, abs=1e-6)
    # the hub (and its sole target, which inherits the hub's damped
    # mass wholesale) far outrank the teleport-floor leaves
    assert out["hub.com"] > out["s1.com"]
    assert out["leaf.com"] > out["s1.com"]


def test_pagerank_return_delta_contracts(spark):
    edges = [
        ("a.com", "b.com", 1), ("b.com", "a.com", 1),
        ("a.com", "c.com", 1), ("b.com", "c.com", 3),
        ("d.com", "a.com", 2),
    ]
    df = spark.createDataFrame(edges, "src_host string, dst_host string, w int")

    def total_delta(iters):
        rows = host_pagerank(df, weight_col="w", iters=iters,
                             return_delta=True).collect()
        assert all(r.delta >= 0 for r in rows)
        return sum(r.delta for r in rows)

    # damping contracts the per-round L1 change: the residual at 5
    # iterations is strictly smaller than at 2
    assert total_delta(5) < total_delta(2)
    # matches the reference per-host: |r5 - r4| on the driver mirror
    r5, _ = _ref_pagerank(edges, iters=5)
    r4, _ = _ref_pagerank(edges, iters=4)
    out = {r.host: r.delta for r in
           host_pagerank(df, weight_col="w", iters=5,
                         return_delta=True).collect()}
    for h in r5:
        assert out[h] == pytest.approx(round(abs(r5[h] - r4[h]), 9),
                                       abs=1e-9)


def test_pagerank_return_delta_rejects_zero_iterations(spark):
    """iters=0 with return_delta would join the initial frame against
    itself and report delta=0 everywhere — a caller probing convergence
    would read 'converged' from a run that never iterated. Raise."""
    df = spark.createDataFrame(
        [("a.com", "b.com")], "src_host string, dst_host string"
    )
    with pytest.raises(ValueError, match="iters"):
        host_pagerank(df, iters=0, return_delta=True)
    # iters=0 WITHOUT delta stays legal: uniform 1/N ranks out
    rows = host_pagerank(df, iters=0).collect()
    assert {r.pagerank for r in rows} == {0.5}


def test_pagerank_empty_edges_yields_empty_frame(spark):
    df = spark.createDataFrame([], "src_host string, dst_host string")
    out = host_pagerank(df)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "host", "pagerank", "out_links"]


def test_crawl_frontier_status_and_priority_rules(spark):
    ranks = spark.createDataFrame(
        [("spam.com", 0.4, 10), ("good.com", 0.3, 5),
         ("fresh.com", 0.2, 0)],
        "host string, pagerank double, out_links bigint",
    )
    stats = spark.createDataFrame(
        # (host, n_pages, n_urls, dup_rate, avg_quality, flagged)
        [("spam.com", 100, 10, 0.9, 2.0, True),
         ("good.com", 50, 50, 0.0, 1.5, False),
         ("unlinked.com", 5, 5, 0.0, 2.0, False)],
        "host string, n_pages bigint, n_urls bigint, dup_rate double, "
        "avg_quality double, flagged boolean",
    )
    out = {r.host: r for r in crawl_frontier(ranks, stats).collect()}
    # stats-only hosts are not in the link graph -> not in the frontier
    assert set(out) == {"spam.com", "good.com", "fresh.com"}
    # blocked: flagged dup-spam host drops to 0 regardless of rank
    assert out["spam.com"].status == "blocked"
    assert out["spam.com"].priority == 0.0
    # known: rank * (1 - dup) * (0.5 + 0.25 * quality)
    assert out["good.com"].status == "known"
    assert out["good.com"].priority == pytest.approx(
        round(0.3 * 1.0 * (0.5 + 0.25 * 1.5), 6))
    # new: never-crawled host keeps its full rank (the frontier branch)
    assert out["fresh.com"].status == "new"
    assert out["fresh.com"].priority == 0.2
    assert out["fresh.com"].n_pages == 0
    assert out["fresh.com"].avg_quality is None


def test_html_to_text_strips_chrome_keeps_prose(spark):
    html = (
        "<html><head><style>p{color:red}</style>"
        "<script>if (1 < 2) { var x = '<p>'; }</script></head>"
        "<body><!-- nav --><h1>Title</h1>"
        "<p>hello   world</p><ul><li>a &amp; b</li><li>c&nbsp;d</li></ul>"
        '<div><a href="http://x.com/p">link text</a> &lt;kept&gt;</div>'
        "</body></html>"
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, body string")
    r = html_to_text(df).collect()[0]
    # script (incl. its '<p>' literal), style, and the comment are gone;
    # block tags became line breaks; entities decoded AFTER tag removal
    assert r.text == "Title\nhello world\na & b\nc d\nlink text <kept>"
    assert 0 < r.markup_frac < 1
    # empty body: no division by zero
    e = html_to_text(
        spark.createDataFrame([(2, "")], "doc_id long, body string")
    ).collect()[0]
    assert e.text == "" and e.markup_frac == 0.0


def test_extract_links_absolute_only_host_level(spark):
    html = (
        '<a href="https://other.com/page">x</a>'
        "<a href='HTTP://WWW.UPPER.COM:80/p'>y</a>"
        '<a href="/relative/path">rel</a>'
        '<a href="mailto:a@b.com">mail</a>'
        '<img src="https://cdn.com/i.png">'
    )
    df = spark.createDataFrame(
        [("http://me.com/p1", html), ("http://me.com/p2", "no links here")],
        "url string, body string",
    )
    rows = {(r.src_host, r.dst_host)
            for r in extract_links(df).collect()}
    # only absolute http(s) hrefs count; hosts canonicalized (:80 drop,
    # lowercase); relative/mailto/img-src ignored
    assert rows == {("me.com", "other.com"), ("me.com", "www.upper.com")}


def test_extract_anchor_texts_rules(spark):
    """Hand page: nested tags stripped from the anchor, whitespace
    collapsed, empty (image) anchors survive as '', relative hrefs and
    schemeless targets excluded, uppercase scheme + default port fold."""
    from hbase_packet_inspector_spark.operators.web import (
        extract_anchor_texts,
    )

    body = (
        '<a href="http://a.com/x">plain  text</a>'
        "<a class='ext' href='HTTPS://B.COM:443/y'>has <b>bold</b>\nkid</a>"
        '<a href="http://c.com/z"><img src="i.png"/></a>'
        '<a href="/relative">skip me</a>'
        '<a href="mailto:x@y.com">skip too</a>'
    )
    df = spark.createDataFrame(
        [("http://me.com/p", body)], "url string, body string"
    )
    rows = sorted(
        (r.dst_host, r.anchor) for r in extract_anchor_texts(df).collect()
    )
    assert rows == [
        ("a.com", "plain text"),
        ("b.com", "has bold kid"),
        ("c.com", ""),
    ]
    assert all(
        r.src_host == "me.com" for r in extract_anchor_texts(df).collect()
    )


def test_parse_robots_and_gate_rules(spark):
    """Hand robots files: wildcard-section scoping (googlebot rules must
    NOT leak), case-insensitive keys, empty Disallow (allow-all marker)
    contributes nothing, root '/' blocks everything, and a host with no
    robots passes its URLs."""
    from hbase_packet_inspector_spark.operators.web import (
        parse_robots,
        robots_gate,
    )

    robots = spark.createDataFrame(
        [
            ("a.com",
             "User-agent: googlebot\nDisallow: /\n\n"
             "user-AGENT: *\ndisallow: /private\nDisallow: /tmp/\n"),
            ("b.com", "User-agent: *\nDisallow:\n"),   # allow-all marker
            ("c.com", "User-agent: *\nDisallow: /\n"),  # blocks all
            # CRLF file: the r7 fail-open bug dropped every rule here
            ("d.com", "User-agent: *\r\nDisallow: /secret\r\n"),
            # RFC 9309 grouped agent lines: * leads the run
            ("e.com", "User-agent: *\nUser-agent: foo\nDisallow: /x\n"),
            # grouped, * NOT first in the run
            ("f.com", "User-agent: foo\nUser-agent: *\nDisallow: /y\n"),
            # grouped run with no * — must contribute nothing
            ("g.com", "User-agent: a\nUser-agent: b\nDisallow: /z\n"),
            # preamble rules bind to no agent — must contribute nothing
            ("h.com", "Disallow: /pre\nUser-agent: *\nDisallow: /q\n"),
        ],
        "host string, robots_txt string",
    )
    rules = {(r.host, r.disallow_prefix) for r in
             parse_robots(robots).collect()}
    assert rules == {("a.com", "/private"), ("a.com", "/tmp/"),
                     ("c.com", "/"), ("d.com", "/secret"),
                     ("e.com", "/x"), ("f.com", "/y"), ("h.com", "/q")}

    frontier = spark.createDataFrame(
        [
            ("http://a.com/private/x",),   # blocked (prefix)
            ("http://a.com/tmp/y",),       # blocked
            ("http://a.com/public",),      # allowed (googlebot / ignored)
            ("http://a.com",),             # empty path -> '/' -> allowed
            ("http://b.com/anything",),    # allow-all marker
            ("http://c.com/any",),         # root rule blocks
            ("http://norobots.com/x",),    # no rules -> allowed
        ],
        "url string",
    )
    out = {r.url: r.blocked for r in
           robots_gate(frontier, parse_robots(robots)).collect()}
    assert out == {
        "http://a.com/private/x": True,
        "http://a.com/tmp/y": True,
        "http://a.com/public": False,
        "http://a.com": False,
        "http://b.com/anything": False,
        "http://c.com/any": True,
        "http://norobots.com/x": False,
    }


def test_crawl_cycle_fetch_invariants(spark):
    """The composed next-cycle list obeys its own rules: fetch implies
    robots-allowed AND non-blocked host AND positive priority; every
    dup-blocked host's URLs are all fetch=false; /private URLs are
    always robots-blocked."""
    from hbase_packet_inspector_spark import plans

    rows = plans.QUERIES["crawl_cycle"].fn(
        spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    for r in rows:
        if r.fetch:
            assert not r.blocked and r.status != "blocked" \
                and r.priority > 0
        if "/private/" in r.url:
            assert r.blocked and not r.fetch
    # both outcomes actually occur (the composition is not degenerate)
    assert any(r.fetch for r in rows) and any(not r.fetch for r in rows)
    # dup-blocked hosts (every third site gets the variant generator)
    blocked_hosts = {r.host for r in rows if r.status == "blocked"}
    assert blocked_hosts
    assert all(not r.fetch for r in rows if r.host in blocked_hosts)


def test_parse_crawl_delays_rules(spark):
    """Crawl-delay extraction: wildcard-group scoping (googlebot delay
    must not leak), CRLF + grouped agent lines (shared _star_bodies
    front half), MAX wins when a file disagrees with itself, garbage
    values ignored, delay-free hosts emit no row."""
    from hbase_packet_inspector_spark.operators.web import (
        parse_crawl_delays,
    )

    robots = spark.createDataFrame(
        [
            ("a.com",
             "User-agent: googlebot\nCrawl-delay: 99\n\n"
             "User-agent: *\nDisallow: /p\ncrawl-DELAY: 2.5\n"),
            ("b.com", "User-agent: *\r\nCrawl-delay: 3\r\n"),   # CRLF
            ("c.com",
             "User-agent: foo\nUser-agent: *\n"
             "Crawl-delay: 1\nCrawl-delay: 4\n"),   # grouped + max
            ("d.com", "User-agent: *\nCrawl-delay: soon\n"),  # garbage
            ("e.com", "User-agent: *\nDisallow: /x\n"),       # none
            ("f.com", "Crawl-delay: 7\n"),                    # preamble
        ],
        "host string, robots_txt string",
    )
    out = {(r.host, r.crawl_delay)
           for r in parse_crawl_delays(robots).collect()}
    assert out == {("a.com", 2.5), ("b.com", 3.0), ("c.com", 4.0)}


def test_schedule_fetches_slots_and_defaults(spark):
    """Per-host slots are 0-based in URL order, fetch_at_s = slot x the
    host's own delay, and hosts without a declared delay pace at the
    default — different hosts schedule independently from t=0."""
    from hbase_packet_inspector_spark.operators.web import (
        schedule_fetches,
    )

    fetches = spark.createDataFrame(
        [("http://a.com/1",), ("http://a.com/2",), ("http://a.com/3",)],
        "url string",
    ).selectExpr("url", "'a.com' AS host").union(spark.createDataFrame(
        [("http://b.com/x", "b.com"), ("http://b.com/y", "b.com")],
        "url string, host string",
    ))
    delays = spark.createDataFrame(
        [("a.com", 2.0)], "host string, crawl_delay double")
    out = {r.url: r for r in
           schedule_fetches(fetches, delays, default_delay=0.5).collect()}
    assert [out[f"http://a.com/{i}"].slot for i in (1, 2, 3)] == [0, 1, 2]
    assert [out[f"http://a.com/{i}"].fetch_at_s
            for i in (1, 2, 3)] == [0.0, 2.0, 4.0]
    assert out["http://b.com/x"].crawl_delay == 0.5
    assert (out["http://b.com/x"].fetch_at_s,
            out["http://b.com/y"].fetch_at_s) == (0.0, 0.5)


def test_anchor_signal_and_frontier_spam_demotion(spark):
    """anchor_signal's concentration rollup feeds crawl_frontier's
    optional spam demotion: a near-unanimous-anchor host halves its
    priority (never to zero), diverse or evidence-poor hosts keep
    theirs, and anchor-free hosts coalesce to zero counts."""
    from hbase_packet_inspector_spark.operators.web import (
        anchor_signal,
        crawl_frontier,
    )

    anchors = spark.createDataFrame(
        # spam.com: 4/5 'click here'; good.com: diverse; tiny.com: 2
        # unanimous links but below the >=4 evidence floor
        [("s.com", "spam.com", "click here")] * 4
        + [("s.com", "spam.com", "topical")]
        + [("s.com", "good.com", f"phrase {i}") for i in range(5)]
        + [("s.com", "tiny.com", "click here")] * 2,
        "src_host string, dst_host string, anchor string",
    )
    sig = {r.host: r for r in anchor_signal(anchors).collect()}
    assert sig["spam.com"].anchor_links == 5
    assert sig["spam.com"].distinct_anchors == 2
    assert sig["spam.com"].top_anchor_share == 0.8
    assert sig["good.com"].top_anchor_share == 0.2

    ranks = spark.createDataFrame(
        [("spam.com", 0.4, 1), ("good.com", 0.3, 1),
         ("tiny.com", 0.2, 1), ("quiet.com", 0.1, 1)],
        "host string, pagerank double, out_links bigint",
    )
    stats = spark.createDataFrame(
        [("spam.com", 10, 10, 0.0, 2.0, False)],
        "host string, n_pages bigint, n_urls bigint, dup_rate double, "
        "avg_quality double, flagged boolean",
    )
    base = {r.host: r for r in crawl_frontier(ranks, stats).collect()}
    out = {r.host: r for r in
           crawl_frontier(ranks, stats, anchor_signal(anchors)).collect()}
    assert out["spam.com"].anchor_spam
    assert out["spam.com"].priority == round(
        base["spam.com"].priority * 0.5, 6)
    for h in ("good.com", "tiny.com", "quiet.com"):
        assert not out[h].anchor_spam
        assert out[h].priority == base[h].priority
    assert out["quiet.com"].anchor_links == 0
    assert out["quiet.com"].distinct_anchors == 0
    assert out["quiet.com"].top_anchor_share is None


def test_robots_gate_rfc_longest_match_semantics(spark):
    """RFC 9309 resolution: longest matching prefix decides, Allow wins
    a length tie, Disallow wildcards truncate (over-block), Allow
    wildcards drop (never under-block), block-all '*', non-wildcard
    agent sections ignored, no-rules hosts pass."""
    from hbase_packet_inspector_spark.operators.web import (
        parse_robots_rules,
        robots_gate_rfc,
    )

    robots = spark.createDataFrame(
        [
            ("a.com",
             "User-agent: *\nDisallow: /d\nAllow: /d/keep\n"
             "Disallow: /d/keep/no\n"),
            ("t.com", "User-agent: *\nDisallow: /t\nAllow: /t\n"),
            ("w.com", "User-agent: *\nDisallow: /w*x\nAllow: /q*\n"),
            ("b.com", "User-agent: *\nDisallow: *\n"),
            ("g.com",
             "User-agent: googlebot\nDisallow: /\n\n"
             "User-agent: *\nAllow: /ok\n"),
        ],
        "host string, robots_txt string",
    )
    rules = {(r.host, r.prefix, r.allow)
             for r in parse_robots_rules(robots).collect()}
    # wildcard disallow truncated, wildcard allow gone, block-all ''
    assert ("w.com", "/w", False) in rules
    assert not any(h == "w.com" and a for h, _p, a in rules)
    assert ("b.com", "", False) in rules

    frontier = spark.createDataFrame(
        [("http://a.com/d/x",), ("http://a.com/d/keep/y",),
         ("http://a.com/d/keep/no/z",), ("http://a.com/other",),
         ("http://t.com/t/1",), ("http://w.com/w8x/2",),
         ("http://w.com/q/3",), ("http://b.com/any",),
         ("http://g.com/else",), ("http://norules.com/x",)],
        "url string",
    )
    out = {r.url: r.blocked for r in
           robots_gate_rfc(frontier, parse_robots_rules(robots)).collect()}
    assert out == {
        "http://a.com/d/x": True,            # /d disallow
        "http://a.com/d/keep/y": False,      # longer allow wins
        "http://a.com/d/keep/no/z": True,    # longest disallow wins back
        "http://a.com/other": False,         # no matching rule
        "http://t.com/t/1": False,           # equal length -> allow
        "http://w.com/w8x/2": True,          # truncated /w over-blocks
        "http://w.com/q/3": False,           # wildcard allow dropped,
                                             # and no disallow matches /q
        "http://b.com/any": True,            # 'Disallow: *' block-all
        "http://g.com/else": False,          # googlebot section ignored
        "http://norules.com/x": False,
    }


def test_parse_sitemaps_global_scope_and_crlf(spark):
    """Sitemap: directives are GLOBAL (preamble and in-section lines
    both emit, per the sitemaps protocol), CRLF-tolerant,
    case-insensitive; hosts without directives emit nothing."""
    from hbase_packet_inspector_spark.operators.web import parse_sitemaps

    robots = spark.createDataFrame(
        [("a.com",
          "Sitemap: http://a.com/sm.xml\r\n"
          "User-agent: *\nDisallow: /x\n"
          "sitemap: http://a.com/sm2.xml\n"),
         ("b.com", "User-agent: *\nDisallow: /\n")],
        "host string, robots_txt string",
    )
    out = {(r.host, r.sitemap_url)
           for r in parse_sitemaps(robots).collect()}
    assert out == {("a.com", "http://a.com/sm.xml"),
                   ("a.com", "http://a.com/sm2.xml")}


def test_sitemap_to_urls_entries_index_lastmod(spark):
    """<url> page entries vs <sitemap> index children, lastmod null
    passthrough, loc trimming, loc-less entries dropped, garbage
    never raises."""
    from hbase_packet_inspector_spark.operators.web import sitemap_to_urls

    sm = spark.createDataFrame(
        [("http://a.com/sm.xml",
          "<urlset><url><loc> http://a.com/s/1 </loc>"
          "<lastmod>2024-03-01</lastmod></url>"
          "<url><loc>http://a.com/s/2</loc></url>"
          "<url><priority>0.5</priority></url></urlset>"),
         ("http://a.com/sm2.xml",
          "<sitemapindex><sitemap><loc>http://a.com/child.xml</loc>"
          "</sitemap></sitemapindex>"),
         ("http://b.com/sm.xml", "garbage <url> no loc </url>")],
        "sitemap_url string, body string",
    )
    rows = {(r.loc, r.lastmod, r.is_index)
            for r in sitemap_to_urls(sm).collect()}
    assert rows == {
        ("http://a.com/s/1", "2024-03-01", False),
        ("http://a.com/s/2", None, False),
        ("http://a.com/child.xml", None, True),
    }


def test_url_templates_masking_and_share(spark):
    """Digit runs mask to {n}, query strings strip before masking,
    duplicate fetches diverge n_urls from n_distinct_urls, shares sum
    to 1 per host."""
    from hbase_packet_inspector_spark.operators.web import url_templates

    pages = spark.createDataFrame(
        [("http://h.com/p/1",), ("http://h.com/p/22?q=3",),
         ("http://h.com/p/333",), ("http://h.com/about",),
         ("http://h.com/p/1",),   # duplicate fetch
         ("http://other.com/x9/y10",)],
        "url string",
    )
    out = {(r.host, r.template): r for r in url_templates(pages).collect()}
    p = out[("h.com", "/p/{n}")]
    assert (p.n_urls, p.n_distinct_urls, p.share) == (4, 3, 0.8)
    assert out[("h.com", "/about")].share == 0.2
    assert out[("other.com", "/x{n}/y{n}")].n_urls == 1
    by_host = {}
    for (h, _t), r in out.items():
        by_host[h] = by_host.get(h, 0) + r.share
    assert all(abs(s - 1.0) < 1e-9 for s in by_host.values())


def test_crawl_plan_budget_truncates_schedule(spark):
    """The composed plan's invariants: fetch iff slot < alloc; per host
    the fetched count is min(alloc, n_urls); slots are contiguous from
    0 in URL order; every URL present is robots-allowed on a fetchable
    host; the spam-anchored host (site24) carries a halved priority
    relative to its anchor-free frontier value."""
    from hbase_packet_inspector_spark import plans

    sf = "/root/testdata/sf0.001"
    rows = plans.QUERIES["crawl_plan"].fn(spark, sf).collect()
    assert rows
    by_host = {}
    for r in rows:
        assert r.fetch == (r.slot < r.alloc)
        assert "/private/" not in r.url
        by_host.setdefault(r.host, []).append(r)
    for h, rs in by_host.items():
        rs.sort(key=lambda r: r.url)
        assert [r.slot for r in rs] == list(range(len(rs)))
        fetched = sum(1 for r in rs if r.fetch)
        assert fetched == min(rs[0].alloc, len(rs))
    # cross-check the anchor demotion against the anchor-free frontier
    base = {r.host: r.priority for r in
            plans.QUERIES["crawl_frontier"].fn(spark, sf).collect()}
    if "site24.com" in by_host:
        assert by_host["site24.com"][0].priority == round(
            base["site24.com"] * 0.5, 6)


def test_robots_comment_stripping_fail_closed(spark):
    """RFC 9309 comments must not drop rules (the pre-fix forms failed
    OPEN): trailing '# ...' on a directive line, a comment-only line
    between consecutive agent lines (the group must stay open), and
    comments in Crawl-delay / Sitemap lines."""
    from hbase_packet_inspector_spark.operators.web import (
        parse_crawl_delays,
        parse_robots,
        parse_robots_rules,
        parse_sitemaps,
    )

    robots = spark.createDataFrame(
        [
            # trailing comments on every directive form
            ("a.com",
             "User-agent: *   # all agents\n"
             "Disallow: /secret # private\n"
             "Allow: /secret/ok\t#exception\n"
             "Crawl-delay: 2 # seconds\n"
             "Sitemap: http://a.com/sm.xml # declared\n"),
            # comment-only line BETWEEN consecutive agent lines: the
            # run is still one group, so the rules bind to * too
            ("b.com",
             "User-agent: *\n# maintained by ops\nUser-agent: foo\n"
             "Disallow: /x\n"),
            # comment-only line inside a rule block: ignored, both
            # surrounding rules survive
            ("c.com",
             "User-agent: *\nDisallow: /one\n# note\nDisallow: /two\n"),
        ],
        "host string, robots_txt string",
    )
    dis = {(r.host, r.disallow_prefix)
           for r in parse_robots(robots).collect()}
    assert dis == {("a.com", "/secret"), ("b.com", "/x"),
                   ("c.com", "/one"), ("c.com", "/two")}
    both = {(r.host, r.prefix, r.allow)
            for r in parse_robots_rules(robots).collect()}
    assert ("a.com", "/secret/ok", True) in both
    assert ("b.com", "/x", False) in both
    delays = {(r.host, r.crawl_delay)
              for r in parse_crawl_delays(robots).collect()}
    assert delays == {("a.com", 2.0)}
    sm = {(r.host, r.sitemap_url)
          for r in parse_sitemaps(robots).collect()}
    assert sm == {("a.com", "http://a.com/sm.xml")}


def test_robots_gates_match_path_and_query(spark):
    """RFC 9309 matches against path-plus-query: 'Disallow: /search?q='
    must block matching query URLs in both gates (the pre-fix forms
    stripped the query, leaving such rules silently fail-open);
    fragments stay stripped, and a bare-host URL with a query reads
    as '/?...'."""
    from hbase_packet_inspector_spark.operators.web import (
        parse_robots,
        parse_robots_rules,
        robots_gate,
        robots_gate_rfc,
    )

    robots = spark.createDataFrame(
        [("a.com",
          "User-agent: *\nDisallow: /search?q=\nDisallow: /?session=\n"
          "Allow: /search?q=ok\n")],
        "host string, robots_txt string",
    )
    frontier = spark.createDataFrame(
        [("http://a.com/search?q=x",),      # query rule hits
         ("http://a.com/search",),          # path alone: no match
         ("http://a.com/search?page=2",),   # different query: no match
         ("http://a.com/search?q=x#frag",),  # fragment stripped, hits
         ("http://a.com?session=1",),       # bare host + query -> /?...
         ("http://a.com/search?q=okay",)],  # rfc: longer allow wins
        "url string",
    )
    simple = {r.url: r.blocked for r in
              robots_gate(frontier, parse_robots(robots)).collect()}
    assert simple["http://a.com/search?q=x"] is True
    assert simple["http://a.com/search"] is False
    assert simple["http://a.com/search?page=2"] is False
    assert simple["http://a.com/search?q=x#frag"] is True
    assert simple["http://a.com?session=1"] is True
    rfc = {r.url: r.blocked for r in
           robots_gate_rfc(frontier, parse_robots_rules(robots)).collect()}
    assert rfc["http://a.com/search?q=x"] is True
    assert rfc["http://a.com/search?q=okay"] is False   # allow is longer
    assert rfc["http://a.com?session=1"] is True


def test_robots_gate_wildcards_full_rfc9309(spark):
    """Full '*'/'$' semantics (parse_robots_patterns +
    robots_gate_wildcards): wildcard Allow exceptions win by raw-pattern
    octet length, trailing '$' anchors to the end of path+query, an
    interior '*' spans octets, query-targeting rules match, comments
    strip, googlebot sections don't leak, no-rules hosts pass."""
    from hbase_packet_inspector_spark.operators.web import (
        parse_robots_patterns,
        robots_gate_wildcards,
    )

    robots = spark.createDataFrame(
        [("a.com",
          "User-agent: googlebot\nDisallow: /\n\n"
          "User-agent: *\n# grp\nUser-agent: backup\n"
          "Disallow: /d\nAllow: /d/keep*\nDisallow: /*.tmp$\n"
          "Disallow: /p\nAllow: /p/*/end$\nDisallow: /c # comment\n"
          "Disallow: /ok?x=\nDisallow: /d/keep/*.tmp$\n")],
        "host string, robots_txt string",
    )
    pats = {(r.pattern, r.allow)
            for r in parse_robots_patterns(robots).collect()}
    # verbatim: wildcards kept on BOTH polarities, comments stripped
    assert ("/d/keep*", True) in pats
    assert ("/d/keep/*.tmp$", False) in pats
    assert ("/c", False) in pats

    frontier = spark.createDataFrame(
        [(u,) for u in [
            "http://a.com/d/1", "http://a.com/d/keep2",
            "http://a.com/d/keep/x3.tmp", "http://a.com/d/keep/y4",
            "http://a.com/p/5/end", "http://a.com/p/6/endx",
            "http://a.com/c/7", "http://a.com/ok8",
            "http://a.com/ok?x=9", "http://b.com/any"]],
        "url string",
    )
    out = {r.url: r.blocked for r in robots_gate_wildcards(
        frontier, parse_robots_patterns(robots)).collect()}
    assert out == {
        "http://a.com/d/1": True,             # base disallow
        "http://a.com/d/keep2": False,        # wildcard allow exception
        "http://a.com/d/keep/x3.tmp": True,   # 15-octet $-anchored
        "http://a.com/d/keep/y4": False,      # $ blocks the above match
        "http://a.com/p/5/end": False,        # mid-* allow with $ wins
        "http://a.com/p/6/endx": True,        # $ fails -> /p disallow
        "http://a.com/c/7": True,             # trailing comment stripped
        "http://a.com/ok8": False,            # no rule matches
        "http://a.com/ok?x=9": True,          # query-targeting rule
        "http://b.com/any": False,            # no rules at all
    }


def test_recrawl_priority_blend(spark):
    """Sitemap lastmod freshness blends into frontier priorities:
    fresh_share boosts multiplicatively, index rows and foreign hosts
    are excluded, garbage lastmod is not fresh, sitemap-less hosts keep
    priority exactly, blocked hosts stay at 0."""
    from hbase_packet_inspector_spark.operators.web import (
        recrawl_priority,
    )

    frontier = spark.createDataFrame(
        [("a.com", 0.4, "known"), ("b.com", 0.2, "new"),
         ("c.com", 0.0, "blocked"), ("d.com", 0.3, "known")],
        "host string, priority double, status string",
    )
    entries = spark.createDataFrame(
        [
            ("http://a.com/1", "2024-03-10", False),   # fresh (5 days)
            ("http://a.com/2", "2023-01-01", False),   # stale
            ("http://a.com/sm2.xml", "2024-03-14", True),  # index: skip
            ("http://b.com/1", "soon", False),         # garbage: not fresh
            ("http://e.com/1", "2024-03-14", False),   # host not in frontier
        ],
        "loc string, lastmod string, is_index boolean",
    )
    out = {r.host: r for r in recrawl_priority(
        frontier, entries, asof_date="2024-03-15", fresh_days=30,
        boost=0.5).collect()}
    assert set(out) == {"a.com", "b.com", "c.com", "d.com"}
    a = out["a.com"]
    assert (a.n_sitemap_urls, a.n_fresh, a.fresh_share) == (2, 1, 0.5)
    assert a.recrawl_priority == round(0.4 * 1.25, 6)
    b = out["b.com"]
    assert (b.n_sitemap_urls, b.n_fresh, b.fresh_share) == (1, 0, 0.0)
    assert b.recrawl_priority == 0.2
    assert out["c.com"].recrawl_priority == 0.0
    d = out["d.com"]
    assert (d.n_sitemap_urls, d.n_fresh) == (0, 0)
    assert d.recrawl_priority == 0.3


def test_sitemap_to_urls_changefreq_priority(spark):
    """The protocol's other two optional hints carry through:
    changefreq lowercases, priority parses as double with garbage
    reading null (try_cast, never an error), both null when absent."""
    from hbase_packet_inspector_spark.operators.web import sitemap_to_urls

    sm = spark.createDataFrame(
        [("http://a.com/sm.xml",
          "<urlset>"
          "<url><loc>http://a.com/1</loc><changefreq>DAILY</changefreq>"
          "<priority>0.8</priority></url>"
          "<url><loc>http://a.com/2</loc><priority>1</priority></url>"
          "<url><loc>http://a.com/3</loc><priority>soon</priority></url>"
          "</urlset>")],
        "sitemap_url string, body string",
    )
    out = {r.loc: r for r in sitemap_to_urls(sm).collect()}
    assert (out["http://a.com/1"].changefreq,
            out["http://a.com/1"].priority) == ("daily", 0.8)
    assert out["http://a.com/2"].priority == 1.0
    assert out["http://a.com/3"].priority is None
    assert out["http://a.com/2"].changefreq is None


def test_k_core_under_peeled_survivor_surfaces_as_degree_zero(spark):
    """Convergence-proof soundness (r10 ADVICE): the output's degree
    column only proves convergence if a round-`iters` survivor whose
    surviving-degree collapsed to 0 APPEARS (degree 0) rather than
    silently vanishing from the final groupBy. Path a-b-c with k=2,
    iters=1: round 1 peels a and c; survivor b then has zero surviving
    neighbors — an unconverged run must show (b, 0), and the converged
    run (iters=2) must be empty."""
    from hbase_packet_inspector_spark.operators.web import k_core

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src_host string, dst_host string")
    under = {(r.host, r.degree) for r in
             k_core(edges, k=2, iters=1).collect()}
    assert under == {("b", 0)}  # surfaced, not vanished
    assert k_core(edges, k=2, iters=2).count() == 0  # converged: empty


def test_overlap_materializes_concurrently_and_preserves_order(spark):
    """r12 §2.6 job-overlap helper: results come back in thunk order
    (the crawl compositions unpack positionally), a single thunk takes
    the no-pool path, and a failing thunk's exception propagates to the
    caller instead of vanishing in the pool."""
    from hbase_packet_inspector_spark.plans.dataprep_queries import _overlap

    a, b = _overlap(
        lambda: spark.range(10).localCheckpoint(),
        lambda: spark.range(3).localCheckpoint(),
    )
    assert (a.count(), b.count()) == (10, 3)

    (only,) = _overlap(lambda: spark.range(7).localCheckpoint())
    assert only.count() == 7

    def boom():
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        _overlap(lambda: spark.range(1).localCheckpoint(), boom)


def test_overlap_runs_unwrapped_without_pinned_threads(spark, monkeypatch):
    """With pinned threads off, pyspark's inheritable_thread_target hands
    back its argument unchanged — for the session form that is the
    session itself, which is not callable. _overlap must then run the
    thunks unwrapped instead of raising."""
    import pyspark

    from hbase_packet_inspector_spark.plans.dataprep_queries import _overlap

    monkeypatch.setattr(pyspark, "inheritable_thread_target",
                        lambda f=None: f)
    a, b = _overlap(lambda: spark.range(4).count(),
                    lambda: spark.range(2).count())
    assert (a, b) == (4, 2)
