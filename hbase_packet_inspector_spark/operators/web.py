"""Web/URL curation operators: URL canonicalization and URL-level dedup.

A crawl sees the same page under many spellings — uppercase scheme/host,
default ports, tracking parameters, fragments — and URL-level dedup is the
cheapest dedup in the whole pipeline (string normalization + one groupBy,
run BEFORE any content hashing). The normalization here is the CCNet-style
conservative subset: nothing that can merge two genuinely different pages.

Everything is pure column expressions (regexp + array higher-order
functions — JVM-side, codegen'd), deliberately limited to constructs with
exact DuckDB equivalents so the registered queries hash-verify:
``regexp_extract`` returning '' on no-match, ``split``/``list_filter``,
``array_join``/``array_to_string``.

Reference parity note: the reference engine has no web surface (pcap in,
SQL out); URL curation is part of this repo's LLM-data-pipeline surface.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@contextlib.contextmanager
def _lazy_rounds(df: DataFrame, nparts: int | None = None):
    """Context for building ITERATIVE-loop round frames without running
    any job until the caller's single eager materialization (r12
    job-collapse).

    Inside the context, cut each round with ``localCheckpoint(
    eager=False)``: the round's plan truncates to a flat LogicalRDD leaf
    (no nested-lineage blowup, no Catalyst re-entry) and the RDD is
    marked persisted, so the two references every round makes to its
    predecessor (value + carry/aggregate) share one computation inside
    the final job. The caller's single eager localCheckpoint then
    computes all rounds as stages of ONE job. For the cut to be
    JOB-FREE at construction, two session confs flip while rounds are
    built (restored after):

    - AQE off — under AQE, materializing ``Dataset.rdd`` eagerly
      executes every shuffle stage to re-plan: one synchronous job per
      round, exactly the barrier this collapses (the eager-per-round
      form measured ~0.4-0.6 s/round of scheduler+tiny-shuffle latency
      on host-cardinality frames).
    - auto-broadcast off — a ``BroadcastExchange`` anywhere in a
      round's plan submits its collect job from ``doPrepare`` at RDD
      CONSTRUCTION (measured: 31 jobs for a 5-iteration HITS build,
      the barrier back under another name). Round joins instead plan
      as sort-merge/cartesian — the correct strategy for
      node-cardinality frames at scale anyway; the 1-row aggregates
      these loops cross-join stay tiny on any plan.

    ``nparts`` (optional) additionally pins the rounds' shuffle
    partitioning, derived by callers from the MEASURED node/edge count
    (~100k rows per partition), never a local constant: round frames
    are node-cardinality, orders of magnitude under the corpus the
    session default is sized for, and without AQE coalescing a default-
    sized round pays width-of-session empty tasks per stage. AQE is
    restored before the final materialization and still optimizes the
    outer query.
    """
    spark = df.sparkSession

    def _get(key: str, default: str) -> str:
        try:
            return spark.conf.get(key)
        except Exception:
            return default

    old_aqe = _get("spark.sql.adaptive.enabled", "true")
    old_bc = _get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    old_parts = _get("spark.sql.shuffle.partitions", "200")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    if nparts is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(max(1, nparts)))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)

# query parameters that never identify content (analytics campaign tags).
# Deliberately ONLY the unambiguous analytics params: 'ref' is excluded
# because it is content-bearing on some sites (branch/ref selectors) and
# stripping it could merge genuinely different pages.
TRACKING_PARAMS = ("fbclid", "gclid")
TRACKING_PREFIX = "utm_"

_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOST_RE = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_REST_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$"


def normalize_url(url) -> Column:
    """Canonical URL: fragment stripped; scheme and host lowercased;
    default port dropped (:80 for http, :443 for https); utm_*/fbclid/
    gclid query parameters removed (parameter ORDER is preserved —
    reordering could merge distinct keys on sites that abuse duplicate
    params); empty path becomes '/'. A string with no '://' scheme is
    returned trimmed + fragment-stripped only — garbage in, garbage
    comparable out, never an error. Fragment strip runs BEFORE the trim
    (removing '#...' can expose trailing whitespace; trimming last makes
    normalize_url IDEMPOTENT — a re-crawled canonical URL maps to
    itself, pinned by the adversarial-corpus property test)."""
    u = F.col(url) if isinstance(url, str) else url
    u = F.trim(F.regexp_replace(u, "#.*$", ""))
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(u, _HOST_RE, 1))
    rest = F.regexp_extract(u, _REST_RE, 1)
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    path = F.regexp_extract(rest, "^([^?]*)", 1)
    query = F.regexp_extract(rest, "^[^?]*\\?(.*)$", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: ~(
            p.startswith(TRACKING_PREFIX)
            | F.substring_index(p, "=", 1).isin(*TRACKING_PARAMS)
        ),
    )
    q2 = F.array_join(kept, "&")
    rebuilt = F.concat(
        scheme, F.lit("://"), host,
        F.when(path == "", F.lit("/")).otherwise(path),
        F.when(q2 == "", F.lit("")).otherwise(F.concat(F.lit("?"), q2)),
    )
    return F.when(scheme == "", u).otherwise(rebuilt)


def url_dedup(docs: DataFrame, *, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """URL-level dedup: one row per canonical URL with the keeper (min
    id — deterministic, re-crawl stable) and the variant count. Runs as
    a single aggregate on the normalized key — an aggregate argmin, not
    a window, so a hot URL (every crawl has one) is a partial+final
    combine, never a single-task sort. At 100 TB this is the first
    dedup pass: it needs only the URL column, so the scan prunes every
    other column away."""
    return (
        docs.select(
            normalize_url(url_col).alias("url_norm"),
            F.col(id_col).cast("long").alias("_id"),
        )
        .groupBy("url_norm")
        .agg(
            F.min("_id").alias("keep_id"),
            F.count("*").alias("n_variants"),
        )
    )


def url_host(url) -> Column:
    """Canonical host of a URL: lowercased authority with the scheme's
    default port dropped (same rules as normalize_url — the two must
    agree or host rollups would split a host from its own canonical
    URLs). Schemeless strings yield '' — they group under the empty
    host rather than erroring, the garbage-tolerant contract. Same
    defrag-then-trim order as normalize_url (the two must agree)."""
    u = F.col(url) if isinstance(url, str) else url
    u = F.trim(F.regexp_replace(u, "#.*$", ""))
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(u, _HOST_RE, 1))
    return (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )


def host_stats(docs: DataFrame, *, url_col: str = "url",
               quality_col: str | None = None,
               max_dup_rate: float = 0.5) -> DataFrame:
    """Per-host crawl curation rollup — the domain-reputation table that
    drives host-level keep/drop decisions (a page's strongest quality
    prior is its domain: link farms and mirror hosts are dropped
    wholesale before any per-page scoring). Per host: page count,
    distinct canonical URLs, dup_rate = 1 - urls/pages (URL-variant
    spam), optional mean of ``quality_col``, and a ``flagged`` verdict
    at ``max_dup_rate``.

    Scale shape: one groupBy(host, url_norm) partial+final distinct,
    then a host rollup — both combine map-side; the scan needs only the
    URL (+ quality) columns. Host key skew (a giant host) stays safe:
    every aggregate is a partial combine, no windows, no sorts."""
    cols = [
        url_host(url_col).alias("host"),
        normalize_url(url_col).alias("url_norm"),
    ]
    if quality_col is not None:
        cols.append(F.col(quality_col).cast("double").alias("_q"))
    base = docs.select(*cols)
    aggs = [
        F.count("*").alias("n_pages"),
        F.countDistinct("url_norm").alias("n_urls"),
    ]
    if quality_col is not None:
        aggs.append(F.round(F.avg("_q"), 6).alias("avg_quality"))
    out = base.groupBy("host").agg(*aggs).withColumn(
        "dup_rate",
        F.round(1 - F.col("n_urls") / F.col("n_pages"), 6),
    ).withColumn("flagged", F.col("dup_rate") > F.lit(max_dup_rate))
    order = ["host", "n_pages", "n_urls", "dup_rate"]
    if quality_col is not None:
        order.append("avg_quality")
    return out.select(*order, "flagged")


def extract_links(pages: DataFrame, *, url_col: str = "url",
                  html_col: str = "body") -> DataFrame:
    """Host-level link extraction from raw HTML: one output row per
    (src_host, dst_host) absolute ``href`` found in the page body.
    Conservative by design — only absolute http(s) links in single- or
    double-quoted hrefs count (relative links stay within their own
    host and add self-edges that PageRank treats as noise; malformed
    markup yields no row rather than an error). Everything is
    ``regexp_extract_all`` + ``explode`` — JVM-side, no Python in the
    loop, and the scan prunes to the two columns.

    Output: (src_host, dst_host), one row per link occurrence — feed
    through a groupBy count into :func:`host_pagerank` as weights."""
    href = F.regexp_extract_all(
        F.col(html_col),
        F.lit("""href=["']((?i:https?)://[^"'<>\\s]+)["']"""), F.lit(1),
    )
    return (
        pages.select(
            url_host(url_col).alias("src_host"),
            F.explode(href).alias("_dst_url"),
        )
        .select("src_host", url_host(F.col("_dst_url")).alias("dst_host"))
        .where((F.col("src_host") != "") & (F.col("dst_host") != ""))
    )


def _star_bodies(text_col: str | Column) -> Column:
    """Array of rule-body strings belonging to the wildcard agent —
    the shared front half of :func:`parse_robots` and
    :func:`parse_crawl_delays`.

    Line endings normalize first (``\\r\\n``/``\\r`` → ``\\n``) so a CRLF
    robots.txt — very common in the wild — parses identically to LF: the
    pre-fix form compared the agent line against ``'*'`` after a
    space-only trim, so a trailing ``\\r`` silently dropped EVERY rule
    (fail-open, the unsafe direction). Comments strip next — RFC 9309
    permits ``#`` to end-of-line on any line, so both trailing comments
    (``Disallow: /secret # private``) and comment-only lines vanish
    before grouping. Without the strip BOTH forms failed OPEN: a
    trailing comment broke the line-anchored value extraction (rule
    dropped), and a comment-only line BETWEEN consecutive agent lines
    read as body content and closed the group early (the later agent
    lines' rules never bound to ``*``).

    Grouping follows RFC 9309: consecutive ``User-agent:`` lines form ONE
    group sharing the rule block that follows, so ``User-agent: *`` /
    ``User-agent: foo`` / ``Disallow: /x`` binds ``/x`` to the wildcard
    group too. Implemented as a single ``aggregate`` fold over the
    ``User-agent:``-split sections: a section whose body is blank is an
    agent line continuing the current group (carry the star flag
    forward); a section with body content closes the group and, when any
    agent in the run was ``*``, contributes its body. Element 0 of the
    split is the preamble (rules before any agent line bind to no agent)
    and is dropped."""
    norm = F.regexp_replace(
        F.col(text_col) if isinstance(text_col, str) else text_col,
        "\r\n?", "\n",
    )
    # RFC 9309 comments: '#' to end-of-line, on rule lines and alone.
    # Values never contain a literal '#' (it would start a comment), so
    # the per-line strip is lossless for well-formed directives.
    norm = F.regexp_replace(norm, "(?m)[ \\t]*#.*$", "")
    sections = F.split(norm, "(?i)user-agent:")
    tail = F.when(
        F.size(sections) > 1,
        F.slice(sections, 2, F.size(sections) - 1),
    ).otherwise(F.array().cast("array<string>"))
    zero = F.struct(
        F.lit(False).alias("carry"),
        F.array().cast("array<string>").alias("bodies"),
    )

    def _step(acc: Column, s: Column) -> Column:
        first = F.substring_index(s, "\n", 1)
        # first whitespace-delimited token of the agent line ('' when the
        # line is blank); tolerant of tabs and same-line '# comments'
        agent = F.regexp_extract(first, "^[ \\t]*([^ \\t#]+)", 1)
        body = F.substr(s, F.length(first) + F.lit(2))
        star = acc["carry"] | (agent == "*")
        # any non-whitespace content closes the group (F.trim strips
        # spaces only — a stripped comment line leaves a bare '\n',
        # which must still read as blank)
        closes = body.rlike("\\S")
        return F.struct(
            (star & ~closes).alias("carry"),
            F.when(star & closes, F.concat(acc["bodies"], F.array(body)))
            .otherwise(acc["bodies"]).alias("bodies"),
        )

    return F.aggregate(tail, zero, _step, lambda acc: acc["bodies"])


def parse_robots(robots: DataFrame, *, host_col: str = "host",
                 text_col: str = "robots_txt") -> DataFrame:
    """robots.txt → (host, disallow_prefix) rules for the wildcard agent —
    the compliance table a polite crawler joins its frontier against.

    Deliberately the conservative subset every robots.txt dialect agrees
    on: the file splits into ``User-agent:`` groups (consecutive agent
    lines share one group, RFC 9309; CRLF normalized — see
    :func:`_star_bodies`); only groups naming ``*`` contribute; each of
    their ``Disallow:`` lines (case-insensitive key, one path prefix)
    emits a rule. ``Allow:`` overrides and wildcards inside paths are
    NOT interpreted (documented: unsupported directives can only make
    the gate MORE restrictive, never less — the safe failure direction
    for compliance); ``Crawl-delay`` is surfaced separately by
    :func:`parse_crawl_delays`. Empty ``Disallow:`` (allow-all marker)
    emits nothing.

    Pure split/aggregate/transform higher-order functions + one explode —
    JVM-side; robots files are KB-sized so per-host rule counts are
    bounded by construction."""
    rules = F.flatten(F.transform(
        _star_bodies(text_col),
        lambda s: F.regexp_extract_all(
            s, F.lit("(?im)^[ \\t]*disallow:[ \\t]*(\\S+)[ \\t]*$"),
            F.lit(1),
        ),
    ))
    return (
        robots.select(
            F.col(host_col).alias("host"),
            F.explode(rules).alias("disallow_prefix"),
        )
        .where(F.col("disallow_prefix") != "")
        .distinct()
    )


def parse_crawl_delays(robots: DataFrame, *, host_col: str = "host",
                       text_col: str = "robots_txt") -> DataFrame:
    """robots.txt → (host, crawl_delay seconds) for the wildcard agent —
    the politeness half of the compliance surface :func:`parse_robots`
    starts (permission there, PACING here; :func:`schedule_fetches`
    turns the two plus a frontier into a timed fetch plan).

    Same group parsing as parse_robots (shared :func:`_star_bodies`:
    CRLF-normalized, RFC 9309 consecutive-agent grouping, preamble
    excluded); each wildcard group's ``Crawl-delay:`` lines
    (case-insensitive key, non-negative decimal seconds) contribute,
    and the MAX across lines/groups wins — when a file disagrees with
    itself the slowest reading is the polite one. Hosts with no
    wildcard delay emit no row (the scheduler applies its default).
    Non-numeric values never match the extraction and are ignored —
    a garbage delay can only leave the host at the default."""
    ds = F.flatten(F.transform(
        _star_bodies(text_col),
        lambda s: F.regexp_extract_all(
            s,
            F.lit("(?im)^[ \\t]*crawl-delay:[ \\t]*"
                  "([0-9]+(?:\\.[0-9]+)?)[ \\t]*$"),
            F.lit(1),
        ),
    ))
    delay = F.array_max(F.transform(ds, lambda x: x.cast("double")))
    return (
        robots.select(
            F.col(host_col).alias("host"), delay.alias("crawl_delay")
        )
        .where(F.col("crawl_delay").isNotNull())
        .groupBy("host")
        .agg(F.max("crawl_delay").alias("crawl_delay"))
    )


def _robots_match_target(url_col: str | Column) -> Column:
    """RFC 9309 match target for a frontier URL: the path plus optional
    ``?query`` (fragment stripped), an empty path reading as ``/``.
    Robots rules match against path-AND-query — ``Disallow: /search?q=``
    must be able to match — so every gate compares against this, not the
    bare path (the pre-fix form stripped the query, leaving
    query-targeting rules silently fail-open)."""
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    pq = F.regexp_extract(F.regexp_extract(u, _REST_RE, 1), "^([^#]*)", 1)
    return (
        F.when(pq == "", F.lit("/"))
        .when(pq.startswith("?"), F.concat(F.lit("/"), pq))
        .otherwise(pq)
    )


def robots_gate(frontier: DataFrame, rules: DataFrame, *,
                url_col: str = "url") -> DataFrame:
    """Frontier URLs × robots rules → (url, host, blocked): blocked when
    the URL's path-and-query (:func:`_robots_match_target`) starts with
    any of its host's disallow prefixes.
    The step between :func:`crawl_frontier`'s priority table and the
    fetcher — fetch order is a ranking problem, fetch PERMISSION is this
    join.

    Scale shape: one equi-join on host. Rules-per-host is KB-bounded
    (robots.txt is one file), so the join fans each URL out by its own
    host's rule count only; the verdict folds back with a partial+final
    bool_or — no windows, no skew risk beyond a hot HOST, which the
    aggregate absorbs map-side. URLs whose host has no robots rules pass
    (left join, coalesce false) — absent robots means allowed."""
    f = frontier.select(
        F.col(url_col).alias("url"),
        url_host(url_col).alias("host"),
        _robots_match_target(url_col).alias("_path"),
    )
    j = f.join(rules, "host", "left")
    hit = F.when(
        F.col("disallow_prefix").isNotNull()
        & F.col("_path").startswith(F.col("disallow_prefix")), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        j.groupBy("url", "host")
        .agg((F.sum(hit) > 0).alias("blocked"))
    )


def parse_robots_rules(robots: DataFrame, *, host_col: str = "host",
                       text_col: str = "robots_txt") -> DataFrame:
    """robots.txt → (host, prefix, allow) BOTH-polarity rule table for
    the wildcard agent — the input :func:`robots_gate_rfc` resolves by
    RFC 9309 longest-match. Where :func:`parse_robots` is the
    conservative Disallow-only subset (its gate can only over-block),
    this table carries ``Allow:`` lines too, so exception patterns
    ('block /d but allow /d/keep') resolve the way every major crawler
    resolves them.

    Same group parsing as parse_robots (shared :func:`_star_bodies`).
    Wildcards keep the safe failure direction per polarity:

    - a **Disallow** containing ``*``/``$`` truncates to the literal
      prefix before the first metacharacter — a superset match, which
      can only OVER-block ('Disallow: /a*/b' blocks all of /a; a bare
      'Disallow: *' becomes the block-all '' prefix);
    - an **Allow** containing ``*``/``$`` is DROPPED — honoring a
      truncated allow could under-block, so the unsupported form must
      not widen access.

    Deployments that want the metacharacters RESOLVED rather than
    conservatively flattened use :func:`parse_robots_patterns` +
    :func:`robots_gate_wildcards` instead — this table remains the
    provably-over-block-only subset.

    Empty-value lines (the allow-all 'Disallow:' marker) emit nothing
    for either polarity."""
    bodies = _star_bodies(text_col)

    def _extract(kind: str, allow: bool) -> Column:
        raw = F.flatten(F.transform(
            bodies,
            lambda s: F.regexp_extract_all(
                s, F.lit(f"(?im)^[ \\t]*{kind}:[ \\t]*(\\S+)[ \\t]*$"),
                F.lit(1),
            ),
        ))
        return F.transform(
            raw,
            lambda p: F.struct(p.alias("raw"), F.lit(allow).alias("allow")),
        )

    both = F.concat(_extract("disallow", False), _extract("allow", True))
    r = robots.select(
        F.col(host_col).alias("host"), F.explode(both).alias("_r")
    ).select("host", F.col("_r.raw").alias("_raw"),
             F.col("_r.allow").alias("allow"))
    trunc = F.regexp_extract(F.col("_raw"), "^([^*$]*)", 1)
    return (
        r.where(~(F.col("allow") & (trunc != F.col("_raw"))))
        .select("host", trunc.alias("prefix"), "allow")
        .distinct()
    )


def robots_gate_rfc(frontier: DataFrame, rules: DataFrame, *,
                    url_col: str = "url") -> DataFrame:
    """Frontier URLs × both-polarity robots rules → (url, host, blocked)
    by RFC 9309 longest-match: among the host's rules whose prefix
    matches the URL path-and-query (:func:`_robots_match_target`), the
    LONGEST prefix decides, an Allow winning
    a length tie (the RFC's 'most octets; equivalent → allow' clause);
    no matching rule (or no rules at all) means allowed. This upgrades
    :func:`robots_gate`'s Disallow-only subset to the resolution every
    major crawler implements, so 'Disallow: /d' + 'Allow: /d/keep'
    blocks /d/x but passes /d/keep/y. (``*``/``$`` inside rules are
    conservatively flattened by :func:`parse_robots_rules`;
    :func:`robots_gate_wildcards` is the gate that resolves them.)

    Scale shape: IDENTICAL to robots_gate — one host equi-join (rules
    KB-bounded per host), then the winner folds back with a
    partial+final ``max`` over a (prefix_length, allow) struct — the
    lexicographic struct ordering IS the RFC tie-break, no windows."""
    f = frontier.select(
        F.col(url_col).alias("url"),
        url_host(url_col).alias("host"),
        _robots_match_target(url_col).alias("_path"),
    )
    j = f.join(rules, "host", "left")
    cand = F.when(
        F.col("prefix").isNotNull()
        & F.col("_path").startswith(F.col("prefix")),
        F.struct(F.length("prefix").alias("l"), F.col("allow").alias("allow")),
    )
    return (
        j.groupBy("url", "host")
        .agg(F.max(cand).alias("_best"))
        .select(
            "url", "host",
            (~F.coalesce(F.col("_best.allow"), F.lit(True)))
            .alias("blocked"),
        )
    )


def parse_robots_patterns(robots: DataFrame, *, host_col: str = "host",
                          text_col: str = "robots_txt") -> DataFrame:
    """robots.txt → (host, pattern, allow) both-polarity rule table with
    ``*``/``$`` kept VERBATIM — the input :func:`robots_gate_wildcards`
    resolves with full RFC 9309 §2.2.3 special-character semantics.
    This completes the ladder: :func:`parse_robots` (Disallow-only
    prefixes, over-block-only), :func:`parse_robots_rules` (both
    polarities, wildcards conservatively truncated/dropped), and now
    the pattern table every major crawler actually resolves — where
    'Disallow: /d' + 'Allow: /d/keep*' passes /d/keep-anything and
    'Disallow: /*.tmp$' blocks exactly the .tmp-suffixed paths.

    Same group parsing as the other two (shared :func:`_star_bodies`:
    CRLF + comment normalization, consecutive-agent grouping, preamble
    excluded); empty-value lines (the allow-all 'Disallow:' marker)
    emit nothing for either polarity. No truncation and no dropping —
    the gate, not the parser, interprets the metacharacters."""
    bodies = _star_bodies(text_col)

    def _extract(kind: str, allow: bool) -> Column:
        raw = F.flatten(F.transform(
            bodies,
            lambda s: F.regexp_extract_all(
                s, F.lit(f"(?im)^[ \\t]*{kind}:[ \\t]*(\\S+)[ \\t]*$"),
                F.lit(1),
            ),
        ))
        return F.transform(
            raw,
            lambda p: F.struct(p.alias("pattern"),
                               F.lit(allow).alias("allow")),
        )

    both = F.concat(_extract("disallow", False), _extract("allow", True))
    return (
        robots.select(
            F.col(host_col).alias("host"), F.explode(both).alias("_r")
        )
        .select("host", F.col("_r.pattern").alias("pattern"),
                F.col("_r.allow").alias("allow"))
        .distinct()
    )


def robots_gate_wildcards(frontier: DataFrame, patterns: DataFrame, *,
                          url_col: str = "url") -> DataFrame:
    """Frontier URLs × verbatim robots patterns → (url, host, blocked)
    with FULL RFC 9309 matching: ``*`` matches any octet sequence,
    a trailing ``$`` anchors the pattern to the end of the match
    target (path-plus-query, :func:`_robots_match_target`), and among
    the host's matching rules the one with the most octets in its RAW
    pattern decides, an Allow winning a length tie (§2.2.2). This is
    the resolution Googlebot/Bingbot implement — the conservative
    :func:`robots_gate_rfc` truncate/drop treatment remains for
    deployments that prefer the provably-over-block-only subset.

    Pattern → anchored Java regex is one in-row translation: strip a
    trailing ``$`` (remembered as the end anchor), escape every regex
    metacharacter EXCEPT ``*`` (an interior ``$`` is literal, matching
    the major-crawler treatment), then ``*`` → ``.*`` and a leading
    ``^`` anchor. Match length is the raw pattern's octet count,
    metacharacters included — the tie-break every reference
    implementation uses (rule specificity, not matched-text length).

    Scale shape: IDENTICAL to robots_gate_rfc — one host equi-join
    (rules KB-bounded per host: robots.txt is one file), winner folds
    back with a partial+final ``max`` over a (pattern_octets, allow)
    struct, no windows. The per-row regexp compile (non-literal
    pattern) prices in at rules-per-host × batch URLs — the same
    bounded fan-out the join already paid for; nothing is
    corpus × corpus."""
    f = frontier.select(
        F.col(url_col).alias("url"),
        url_host(url_col).alias("host"),
        _robots_match_target(url_col).alias("_t"),
    )
    j = f.join(patterns, "host", "left")
    p = F.col("pattern")
    anchored = p.endswith("$")
    core = F.when(
        anchored, F.substring(p, 1, F.length(p) - F.lit(1))
    ).otherwise(p)
    esc = F.regexp_replace(core, "([\\\\^$.|?+()\\[\\]{}])", "\\\\$1")
    rx = F.concat(
        F.lit("^"),
        F.regexp_replace(esc, "\\*", ".*"),
        F.when(anchored, F.lit("$")).otherwise(F.lit("")),
    )
    cand = F.when(
        p.isNotNull() & F.regexp_like(F.col("_t"), rx),
        F.struct(F.octet_length(p).alias("l"), F.col("allow").alias("allow")),
    )
    return (
        j.groupBy("url", "host")
        .agg(F.max(cand).alias("_best"))
        .select(
            "url", "host",
            (~F.coalesce(F.col("_best.allow"), F.lit(True)))
            .alias("blocked"),
        )
    )


def schedule_fetches(fetches: DataFrame, delays: DataFrame, *,
                     url_col: str = "url", host_col: str = "host",
                     default_delay: float = 1.0) -> DataFrame:
    """Robots-allowed fetch list × per-host crawl delays → a TIMED fetch
    plan: per host, URL k (0-based slot, URLs ordered lexicographically
    for a deterministic plan) fetches at ``k × delay`` seconds into the
    cycle. This is the politeness scheduler that completes the
    compliance loop :func:`robots_gate` (permission) and
    :func:`parse_crawl_delays` (pacing) feed — the output a fetcher
    fleet can consume directly: same-host requests spaced by the host's
    own declared delay, different hosts fully parallel.

    Output: (url, host, slot, crawl_delay, fetch_at_s) where
    ``crawl_delay`` is the effective per-host delay (declared, else
    ``default_delay``) and ``fetch_at_s = round(slot × delay, 6)``.

    Scale shape: one host equi-join (delays is host-cardinality — the
    same shape robots_gate's rules join has) and ONE host-partitioned
    ``row_number`` — no global sort, no driver loop; per-host window
    width is the frontier's per-host URL budget, bounded by how the
    frontier batch was cut, never by corpus size."""
    from pyspark.sql import Window

    w = Window.partitionBy(host_col).orderBy(F.asc(url_col))
    slot = (F.row_number().over(w) - 1).cast("long")
    eff = F.coalesce(F.col("crawl_delay"), F.lit(float(default_delay)))
    return (
        fetches.select(url_col, host_col)
        .join(delays.select(host_col, "crawl_delay"), host_col, "left")
        .select(
            F.col(url_col).alias("url"),
            F.col(host_col).alias("host"),
            slot.alias("slot"),
            eff.alias("crawl_delay"),
            F.round(slot * eff, 6).alias("fetch_at_s"),
        )
    )


def parse_sitemaps(robots: DataFrame, *, host_col: str = "host",
                   text_col: str = "robots_txt") -> DataFrame:
    """robots.txt → (host, sitemap_url) from ``Sitemap:`` directives —
    the crawl loop's third discovery source beside link extraction
    (:func:`extract_links`) and the frontier's own backlog: sitemaps
    are how a host DECLARES its URL inventory, typically surfacing
    deep pages no inbound link reaches.

    Per the sitemaps protocol the directive is GLOBAL — not bound to
    any User-agent group — so unlike the rule parsers this reads the
    whole file (preamble included) after CRLF normalization and RFC 9309
    ``#``-comment stripping (same lossless strip as
    :func:`_star_bodies`: a sitemap URL cannot contain a raw ``#`` —
    that octet starts a comment); the per-group machinery of
    :func:`_star_bodies` deliberately does not apply. Multiple
    directives all emit; values must be absolute URLs per the spec but
    are passed through verbatim (the fetcher, not the parser, is where
    garbage fails safely)."""
    norm = F.regexp_replace(F.col(text_col), "\r\n?", "\n")
    norm = F.regexp_replace(norm, "(?m)[ \\t]*#.*$", "")
    urls = F.regexp_extract_all(
        norm, F.lit("(?im)^[ \\t]*sitemap:[ \\t]*(\\S+)[ \\t]*$"), F.lit(1)
    )
    return (
        robots.select(
            F.col(host_col).alias("host"),
            F.explode(urls).alias("sitemap_url"),
        )
        .distinct()
    )


def sitemap_to_urls(sitemaps: DataFrame, *, url_col: str = "sitemap_url",
                    xml_col: str = "body") -> DataFrame:
    """Fetched sitemap XML → one row per ``<loc>`` entry:
    (sitemap_url, loc, lastmod, changefreq, priority, is_index).
    ``<url>`` blocks are page entries (is_index false); ``<sitemap>``
    blocks are sitemap-INDEX children (is_index true — feed them back
    through the fetcher for another round, the protocol's one level of
    recursion). ``lastmod`` passes through trimmed, null when absent —
    the freshness signal :func:`recrawl_priority` rolls into the
    frontier; ``changefreq`` (lowercased token, null when absent) and
    ``priority`` (double via try_cast — a garbage value reads null,
    never errors) are the protocol's other two optional hints, carried
    for schedulers that weight them (index children have neither per
    the spec — theirs are always null). Entries without a ``<loc>``
    yield no row; malformed XML yields fewer rows, never an error
    (same regex-subset posture as :func:`html_to_text`, and the same
    known limit: a literal '>' inside a value ends the element early).

    All regexp_extract_all/transform — JVM codegen, one explode, no
    shuffle until the consumer aggregates; sitemap files are spec-capped
    (50k entries), so per-row fan-out is bounded by construction."""
    def _tag(b: Column, tag: str) -> Column:
        return F.nullif(
            F.trim(F.regexp_extract(
                b, f"(?is)<{tag}>(.*?)</{tag}>", 1)),
            F.lit(""),
        )

    def _loc(b: Column) -> Column:
        return F.trim(F.regexp_extract(b, "(?is)<loc>(.*?)</loc>", 1))

    def _entries(pattern: str, is_index: bool) -> Column:
        blocks = F.regexp_extract_all(
            F.col(xml_col), F.lit(pattern), F.lit(1))
        return F.transform(
            blocks,
            lambda b: F.struct(
                _loc(b).alias("loc"),
                _tag(b, "lastmod").alias("lastmod"),
                F.lower(_tag(b, "changefreq")).alias("changefreq"),
                _tag(b, "priority").try_cast("double").alias("priority"),
                F.lit(is_index).alias("is_index"),
            ),
        )

    entries = F.concat(
        _entries("(?is)<url>(.*?)</url>", False),
        _entries("(?is)<sitemap>(.*?)</sitemap>", True),
    )
    return (
        sitemaps.select(
            F.col(url_col).alias("sitemap_url"),
            F.explode(entries).alias("_e"),
        )
        .select(
            "sitemap_url",
            F.col("_e.loc").alias("loc"),
            F.col("_e.lastmod").alias("lastmod"),
            F.col("_e.changefreq").alias("changefreq"),
            F.col("_e.priority").alias("priority"),
            F.col("_e.is_index").alias("is_index"),
        )
        .where(F.col("loc") != "")
    )


def recrawl_priority(frontier: DataFrame, entries: DataFrame, *,
                     asof_date: str, fresh_days: int = 30,
                     boost: float = 0.5) -> DataFrame:
    """Blend sitemap ``lastmod`` freshness into :func:`crawl_frontier`
    priorities — the consumer the freshness signal
    :func:`sitemap_to_urls` emits has been waiting for: a host whose
    declared inventory was recently modified is worth re-crawling ahead
    of an equal-rank host whose sitemap is stale.

    ``entries`` is :func:`sitemap_to_urls` output (``loc``/``lastmod``/
    ``is_index``); page entries (is_index false) roll up per host
    (derived from ``loc`` — the sitemaps protocol scopes a sitemap to
    its own host) into ``n_sitemap_urls``, ``n_fresh`` (lastmod parses
    as a date no older than ``fresh_days`` before ``asof_date``;
    future-dated counts as fresh) and ``fresh_share`` (rounded 6).
    Unparseable or absent lastmod is simply NOT fresh — garbage can
    only fail to boost, never to demote. The blended score is

        ``recrawl_priority = round(priority × (1 + boost × fresh_share), 6)``

    so a host with no sitemap (or no fresh entries) keeps its priority
    exactly (factor 1 over an already-6dp priority), an all-fresh host
    gains ``boost`` (default +50%), and blocked hosts stay at 0 — the
    boost multiplies, it never resurrects.

    Scale shape: one partial+final per-host aggregate over the entry
    table plus ONE more host equi-join onto the frontier — the same
    host-cardinality join every other frontier feature pays; date math
    is in-row, no windows."""
    asof = F.to_date(F.lit(asof_date))
    # try_to_date, not to_date: under ANSI mode a malformed lastmod
    # would fail the whole job — the promised failure mode is
    # "garbage is simply not fresh"
    pages = entries.where(~F.col("is_index")).select(
        url_host("loc").alias("host"),
        F.try_to_date("lastmod").alias("_lm"),
    )
    fresh = (
        F.col("_lm").isNotNull()
        & (F.datediff(asof, F.col("_lm")) <= F.lit(int(fresh_days)))
    )
    per = (
        pages.groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_sitemap_urls"),
            F.sum(fresh.cast("long")).cast("long").alias("n_fresh"),
        )
        .withColumn(
            "fresh_share",
            F.round(F.col("n_fresh").cast("double")
                    / F.col("n_sitemap_urls"), 6),
        )
    )
    return (
        frontier.join(per, "host", "left")
        .withColumn("n_sitemap_urls",
                    F.coalesce("n_sitemap_urls", F.lit(0)).cast("long"))
        .withColumn("n_fresh",
                    F.coalesce("n_fresh", F.lit(0)).cast("long"))
        .withColumn("fresh_share",
                    F.coalesce("fresh_share", F.lit(0.0)))
        .withColumn(
            "recrawl_priority",
            F.round(
                F.col("priority")
                * (F.lit(1.0) + F.lit(float(boost)) * F.col("fresh_share")),
                6),
        )
    )


def url_templates(pages: DataFrame, *, url_col: str = "url") -> DataFrame:
    """Per-host URL path-template mining: digit runs in the path mask to
    ``{n}`` ('/p/123?x=1' → '/p/{n}'), then per (host, template) the
    URL count, distinct-URL count, and the template's share of the
    host's URLs (rounded 6). This is the STRUCTURAL complement of
    :func:`url_dedup`'s string canonicalization and host_stats'
    dup-rate: a host whose traffic concentrates into one parameterized
    template ('/item/{n}' at 99%) is a catalog or a URL-variant spam
    generator — either way, crawl budget should treat the template,
    not each URL, as the unit.

    Scale shape: template derivation is in-row regexp; then one
    partial+final aggregate to (host, template) and one host-keyed
    aggregate joined back for the share — both combine map-side, no
    windows, frames bounded by template cardinality (tiny) × hosts."""
    host = url_host(url_col)
    path = F.regexp_extract(
        F.regexp_extract(F.col(url_col), _REST_RE, 1), "^([^?#]*)", 1
    )
    path = F.when(path == "", "/").otherwise(path)
    template = F.regexp_replace(path, "[0-9]+", "{n}")
    per = (
        pages.select(host.alias("host"), template.alias("template"),
                     F.col(url_col).alias("url"))
        .groupBy("host", "template")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.countDistinct("url").cast("long").alias("n_distinct_urls"),
        )
    )
    tot = per.groupBy("host").agg(F.sum("n_urls").alias("_tot"))
    return (
        per.join(tot, "host")
        .select(
            "host", "template", "n_urls", "n_distinct_urls",
            F.round(F.col("n_urls").cast("double") / F.col("_tot"), 6)
            .alias("share"),
        )
    )


def extract_anchor_texts(pages: DataFrame, *, url_col: str = "url",
                         html_col: str = "body") -> DataFrame:
    """Link extraction WITH anchor text: one row per absolute http(s)
    ``<a href=...>text</a>`` with (src_host, dst_host, anchor) — the
    anchor-text corpus. Anchor text is how the REST of the web describes
    a page, which makes it (a) a crawl-frontier relevance signal richer
    than the bare edge :func:`extract_links` emits, (b) classic
    retrieval/quality training data (anchor→target pairs), and (c) a
    spam tell (a host whose in-anchors are all 'click here'/'cheap ...'
    reads differently from one anchored by topical phrases).

    Same conservative contract as extract_links: only absolute http(s)
    hrefs in quoted attributes count; the anchor is the tag's inner
    HTML with nested tags stripped, whitespace collapsed, trimmed —
    empty anchors (image links) survive as '' rows so link counts agree
    with extract_links' for the same pages. Malformed markup yields no
    row, never an error. All regexp_extract_all/regexp_replace — JVM
    codegen, scan pruned to (url, body); one explode, no shuffle until
    the consumer aggregates."""
    snippet = F.regexp_extract_all(
        F.col(html_col),
        F.lit("""(?is)<a\\s[^>]*href=["'](?:https?)://[^"'<>\\s]+["'][^>]*>.*?</a>"""),
        F.lit(0),
    )
    href = F.regexp_extract(
        F.col("_a"), """(?is)href=["']((?:https?)://[^"'<>\\s]+)["']""", 1
    )
    inner = F.regexp_replace(
        F.regexp_replace(F.col("_a"), "(?is)^<a[^>]*>|</a>\\s*$", ""),
        "<[^>]+>", " ",
    )
    anchor = F.trim(F.regexp_replace(inner, "\\s+", " "))
    return (
        pages.select(
            url_host(url_col).alias("src_host"),
            F.explode(snippet).alias("_a"),
        )
        .select(
            "src_host",
            url_host(href).alias("dst_host"),
            anchor.alias("anchor"),
        )
        .where((F.col("src_host") != "") & (F.col("dst_host") != ""))
    )


def host_pagerank(edges: DataFrame, *, src_col: str = "src_host",
                  dst_col: str = "dst_host", weight_col: str | None = None,
                  damping: float = 0.85, iters: int = 5,
                  return_delta: bool = False) -> DataFrame:
    """Weighted PageRank over the host link graph — the crawl-frontier
    prioritizer (which domains to fetch next, which to deepen) and the
    spam prior that complements :func:`host_stats`' dup-rate flag: a
    link farm links itself furiously but nothing reputable links IN,
    so its rank stays at the teleport floor.

    Semantics (the public power-iteration formulation): ranks start
    uniform at 1/N over the node set (sources ∪ targets); each round
    every host splits rank over its out-link weights, dangling hosts
    (no outlinks) teleport their whole mass uniformly, and
    ``rank' = (1-d)/N + d * (in_contrib + dangling_mass/N)``. Ranks are
    rounded to 9 decimals each round so the fixpoint is engine-exact
    (sum order differs across engines/partitions in the last ulp; see
    the registry determinism rules).

    Scale shape: the edge frame (with out-weight joined on once) is
    aggregated and persisted up front; each round is ONE equi-join of
    the node-sized rank frame onto the edges plus a groupBy(dst) sum —
    partial+final combines, no windows — and a 1-row dangling-mass
    aggregate cross-joined back (broadcast nested loop on a literal
    row, the sanctioned 1-row shape). Rank frames are EAGERLY
    localCheckpointed per round — re-measured both ways in r12: the
    lazy one-job collapse that speeds up hits/k_core/host_components
    is SLOWER here (see the loop comment below) because each PageRank
    round chains three joins and the collapse's no-broadcast
    requirement turns all of them into sort-merge exchange waves.
    Node/rank frames are host-cardinality — millions of
    rows at 100 TB, never collected; the single driver scalar is N.

    Output: (host, pagerank, out_links) — rank rounded to 6,
    out_links = total outgoing link weight (0 for dangling hosts).

    ``return_delta=True`` adds a ``delta`` column — the per-host
    |rank_iters − rank_iters−1| at full 9-decimal precision (NOT the
    6-rounded output rank), i.e. the convergence residual. The damping
    factor contracts the per-round L1 change by ≤ d, so max(delta)
    tells you directly whether ``iters`` was enough; it costs one extra
    host-keyed join on the already-checkpointed frames, no extra
    iteration.

    Reference parity note: the reference engine has no web/graph
    surface; this is part of the repo's crawl-curation extension.
    """
    if return_delta and iters < 1:
        # delta is |rank_i - rank_{i-1}|; with zero iterations prev ==
        # ranks and every delta would read 0.0 — a caller probing
        # convergence would see "converged" from a run that never ran
        raise ValueError("return_delta requires iters >= 1")
    # NULL weights coalesce to 0.0 at ingest, so ow is always defined. A
    # host whose out-weight is 0 (all-zero or all-NULL weights) has no
    # out-link to split its rank over: it counts as dangling (ow > 0
    # below), so its rank teleports, and its edges are left out of the
    # contribution sum, where rank * w / 0 would raise DIVIDE_BY_ZERO
    # under ANSI (or read NULL and leak its mass without ANSI).
    w = (F.coalesce(F.col(weight_col).cast("double"), F.lit(0.0))
         if weight_col else F.lit(1.0))
    # e is read twice during setup (ow aggregate + the e2 join) and each
    # read re-runs the upstream edge derivation — a full corpus pass for
    # link graphs derived from document scans. Persist it for the setup
    # (released right after the loop caches materialize, before rounds).
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
            w.alias("w"),
        )
        .groupBy("src", "dst").agg(F.sum("w").alias("w"))
        .persist()
    )
    # ow is read every round (the dangling anti-join's out_hosts side)
    # and once more in the final join: persist it, or each round's job
    # re-aggregates the raw edge frame from scratch
    ow = e.groupBy("src").agg(F.sum("w").alias("ow")).persist()
    e2 = e.join(ow, "src").persist()
    nodes = (
        e2.select(F.col("src").alias("host"))
        .union(e2.select(F.col("dst").alias("host")))
        .distinct().persist()
    )
    # The two driver scalars — node count N and whether any node lacks
    # an out-link — come from ONE aggregate job over the cached frames
    # (merged in r12: the former nodes.count() + anti-join isEmpty pair
    # cost two sequential setup jobs; ow is grouped by src so the left
    # join matches each node at most once and the ow > 0 count counts
    # exactly the nodes WITH out-links).
    _setup = (
        nodes.join(ow.withColumnRenamed("src", "host"), "host", "left")
        .agg(F.count(F.lit(1)).alias("n"),
             F.count(F.when(F.col("ow") > 0, 1)).alias("n_out"))
        .first()
    )
    n = int(_setup["n"])  # the one driver scalar: node count for 1/N terms
    e.unpersist()  # setup caches (ow/e2/nodes) are materialized now
    if n == 0:
        e2.unpersist()
        ow.unpersist()
        nodes.unpersist()
        return nodes.select(
            "host", F.lit(0.0).alias("pagerank"),
            F.lit(0).cast("bigint").alias("out_links"),
        )
    out_hosts = ow.where(F.col("ow") > 0).select(F.col("src").alias("host"))
    # Price the dangling term ONCE: when the graph has no dangling host
    # (every node has an out-link — typical of host link graphs, where a
    # node only appears by linking or being linked by a linker), dm is
    # exactly 0.0 every round, yet the generic loop would still pay a
    # 1-row anti-join aggregate + broadcast cross join per round for
    # that constant. The probe (r12: ~1 s off the 5-round build at
    # sf0.1, ranks hash-identical — (contrib + 0.0/N) == contrib in
    # IEEE doubles) lets those rounds drop the term; graphs WITH
    # dangling hosts keep the exact per-round dangling mass unchanged.
    no_dangling = int(_setup["n_out"]) == n
    ranks = nodes.select(
        "host", F.round(F.lit(1.0) / F.lit(float(n)), 9).alias("rank")
    ).localCheckpoint()
    # Rank frames are EAGERLY localCheckpointed per round — measured
    # FASTER than the r12 _lazy_rounds collapse for this operator (4.3 s
    # vs 5.5-6.0 s isolated on the bench graph, re-measured both ways):
    # unlike the hits/k_core/components loops, each PageRank round
    # chains THREE joins (dangling anti-join, contrib equi-join, nodes
    # left join) plus a 1-row cross join, and with auto-broadcast off
    # (the lazy build's requirement) every one becomes a sort-merge
    # exchange wave — more stage-scheduling latency than the per-round
    # checkpoint barriers the collapse removes. Eager rounds keep the
    # tiny rank frame broadcastable, so the edge frame never re-sorts.
    prev = ranks
    for _ in range(iters):
        prev = ranks
        contrib = (
            e2.where(F.col("ow") > 0)
            .join(ranks.withColumnRenamed("host", "src"), "src")
            .groupBy(F.col("dst").alias("host"))
            .agg(F.sum(F.col("rank") * F.col("w") / F.col("ow"))
                 .alias("contrib"))
        )
        upd = nodes.join(contrib, "host", "left")
        if no_dangling:
            in_mass = F.coalesce(F.col("contrib"), F.lit(0.0))
        else:
            dangling = (
                ranks.join(out_hosts, "host", "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
            )
            upd = upd.crossJoin(dangling)
            in_mass = (F.coalesce(F.col("contrib"), F.lit(0.0))
                       + F.col("dm") / F.lit(float(n)))
        ranks = (
            upd.select(
                "host",
                F.round(
                    F.lit((1.0 - damping) / n) + F.lit(damping) * in_mass,
                    9,
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    out = (
        ranks.join(ow.withColumnRenamed("src", "host"), "host", "left")
        .select(
            "host",
            F.round("rank", 6).alias("pagerank"),
            F.coalesce(F.col("ow"), F.lit(0.0)).cast("bigint")
            .alias("out_links"),
        )
    )
    if return_delta:
        dd = (
            ranks.join(prev.withColumnRenamed("rank", "_prev"), "host")
            .select(
                "host",
                F.round(F.abs(F.col("rank") - F.col("_prev")), 9)
                .alias("delta"),
            )
        )
        out = out.join(dd, "host")
    out = out.localCheckpoint()
    e2.unpersist()
    ow.unpersist()
    nodes.unpersist()
    return out


def hits_scores(edges: DataFrame, *, src_col: str = "src_host",
                dst_col: str = "dst_host", weight_col: str | None = None,
                iters: int = 5) -> DataFrame:
    """HITS (Kleinberg's hubs-and-authorities) over the host link graph
    — the complementary signal to :func:`host_pagerank`: PageRank finds
    globally endorsed hosts, HITS separates DIRECTORY hosts (hubs: they
    link to many good authorities — crawl them to DISCOVER urls) from
    CONTENT hosts (authorities: many good hubs link to them — crawl
    them to GET documents). A frontier scheduler wants both columns.

    Semantics (the public mutual-reinforcement formulation): hubs start
    at 1.0; each round authority(v) = Σ hub(u)·w(u→v) then L1-normalize,
    hub(u) = Σ authority(v)·w(u→v) then L1-normalize. Scores are rounded
    to 9 decimals after each normalization so the fixpoint is
    engine-exact (same discipline as host_pagerank).

    Scale shape: the deduped weighted edge frame is persisted once; each
    half-round is ONE equi-join of the node-sized score frame onto the
    edges plus a groupBy partial+final sum, then a 1-row L1 aggregate
    cross-joined back (the sanctioned 1-row broadcast shape). Each
    half-round's raw in-sum aggregate is a LAZY persist() (r12
    job-collapse): the cache dedups the L1 norm's double reference
    (value + sum) — the UNPERSISTED checkpoint-free form was measured
    slower, 6.4 s → 9.2 s, recomputing the in-sum join twice per use —
    while the single eager localCheckpoint on the output materializes
    all rounds in ONE job instead of the former 2*iters+2 per-half-round
    checkpoint barriers that dominated local wall. Node frames are
    host-cardinality — never collected; there is no driver scalar at
    all (unlike PageRank's 1/N terms, HITS needs none).

    Output: (host, authority, hub) rounded to 6 — one row per node in
    sources ∪ targets; hosts nothing links to have authority 0, hosts
    linking nowhere have hub 0.

    Reference parity note: the reference engine has no web/graph
    surface; this is part of the repo's crawl-curation extension.
    """
    w = (F.col(weight_col).cast("double") if weight_col
         else F.lit(1.0))
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
            w.alias("w"),
        )
        .groupBy("src", "dst").agg(F.sum("w").alias("w"))
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("host"))
        .union(e.select(F.col("dst").alias("host")))
        .distinct().persist()
    )

    # Half-round shape since r12 (job-collapse): the nodes zero-fill
    # join is gone from the loop — the fill was round-invisible (a
    # zero-scored host contributes 0 to the next half-round's sum and
    # 0 to the L1 total; the FINAL output still left-joins nodes and
    # coalesces absent scores to 0, so the emitted rows are identical)
    # — and each half-round's raw in-sum aggregate is cut with a lazy
    # localCheckpoint inside _lazy_rounds: the flat LogicalRDD dedups
    # the L1 norm's double reference (value + sum; the UNCUT form was
    # measured slower, 6.4 -> 9.2 s, recomputing the in-sum join twice
    # per use) without the per-half-round barrier, and the ONE eager
    # localCheckpoint on the output materializes all rounds as stages
    # of a single job instead of 2*iters+2 synchronous jobs.
    def _norm(raw: DataFrame, col: str) -> DataFrame:
        raw = raw.localCheckpoint(eager=False)
        tot = raw.agg(F.sum(col).alias("_tot"))
        return (
            raw.crossJoin(tot)
            .select(
                "host",
                F.when(F.col("_tot") > 0,
                       F.round(F.col(col) / F.col("_tot"), 9))
                .otherwise(F.lit(0.0)).alias(col),
            )
        )

    hub = nodes.select("host", F.lit(1.0).alias("hub"))
    auth = None
    # one count job prices the round partitioning from the MEASURED
    # graph size (and materializes the e/nodes caches the loop reads)
    n_nodes = nodes.count()
    with _lazy_rounds(edges, nparts=max(1, n_nodes // 100_000)):
        for _ in range(iters):
            auth = _norm(
                e.join(hub.withColumnRenamed("host", "src"), "src")
                .groupBy(F.col("dst").alias("host"))
                .agg(F.sum(F.col("hub") * F.col("w")).alias("auth")),
                "auth",
            )
            hub = _norm(
                e.join(auth.withColumnRenamed("host", "dst"), "dst")
                .groupBy(F.col("src").alias("host"))
                .agg(F.sum(F.col("auth") * F.col("w")).alias("hub")),
                "hub",
            )
    if auth is None:  # iters == 0: defined as the uniform start state
        auth = nodes.select("host", F.lit(0.0).alias("auth"))
    out = (
        nodes.join(auth, "host", "left").join(hub, "host", "left")
        .select(
            "host",
            F.round(F.coalesce(F.col("auth"), F.lit(0.0)), 6)
            .alias("authority"),
            F.round(F.coalesce(F.col("hub"), F.lit(0.0)), 6)
            .alias("hub"),
        )
        .localCheckpoint()
    )
    e.unpersist()
    nodes.unpersist()
    return out


# html_to_text's rule chain, applied strictly in order. Kept as data so
# the DuckDB oracle emits the IDENTICAL chain (html_rules_sql below) —
# patterns are RE2-and-Java-regex common subset ((?is) flags, non-greedy,
# \b); replacements may contain real newlines.
_HTML_BLOCK_TAGS = (
    "p|div|br|li|tr|h[1-6]|ul|ol|table|thead|tbody|section|article"
    "|header|footer|blockquote"
)
HTML_TEXT_RULES = (
    ("(?is)<script[^>]*>.*?</script>", " "),
    ("(?is)<style[^>]*>.*?</style>", " "),
    ("(?s)<!--.*?-->", " "),
    (f"(?i)</?(?:{_HTML_BLOCK_TAGS})\\b[^>]*>", "\n"),
    ("<[^>]+>", " "),
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
    ("[ \\t]+", " "),
    (" ?\\n ?", "\n"),
    ("\\n+", "\n"),
    # \A/\z, not ^/$: Java's $ also matches before a FINAL newline,
    # RE2's does not — the anchors below mean the same thing in both
    ("\\A\\n+", ""),
    ("\\n+\\z", ""),
)


def html_rules_sql(expr: str) -> str:
    """DuckDB expression applying HTML_TEXT_RULES to ``expr`` — the
    oracle-side mirror of :func:`html_to_text` (same patterns, same
    order, 'g' for the global semantics Spark has by default;
    replacements emit as E-strings so a newline is a newline)."""
    out = expr
    for pat, rep in HTML_TEXT_RULES:
        p = pat.replace("'", "''")
        r = rep.replace("\\", "\\\\").replace("'", "''").replace("\n", "\\n")
        out = f"regexp_replace({out}, '{p}', e'{r}', 'g')"
    return f"trim({out})"


def html_to_text(pages: DataFrame, *, html_col: str = "body",
                 out_col: str = "text") -> DataFrame:
    """Main-text extraction from raw HTML — the step between a crawl
    body (``warc_to_documents`` hands the HTTP body through verbatim)
    and every text-curation operator: quality features, lang-ID, and
    dedup shingles all assume prose, and tag soup wrecks each one
    (markup tokens inflate lengths, crush stopword ratios, and make
    every page on a site a near-dup through shared chrome).

    Deliberately a model-free regex subset of the trafilatura/jusText
    role: <script>/<style>/comment blocks drop wholesale, block-level
    tags become line breaks (so :func:`~..operators.text.boilerplate_lines`
    still sees per-line furniture), remaining tags vanish, the five
    named entities + &nbsp; decode (&amp; last, after tag removal, so
    '&lt;tag&gt;' renders as text instead of resurrecting markup),
    and whitespace collapses. Every rule is one ``regexp_replace`` —
    JVM-side codegen, chain shared with the DuckDB oracle via
    ``HTML_TEXT_RULES``. Adds ``markup_frac`` — the stripped-away
    fraction, a cheap page-quality signal (boilerplate-heavy pages
    strip to almost nothing).

    Known regex-subset limits (documented, not bugs to fix): a literal
    '>' inside a quoted attribute ends the tag early; numeric
    entities pass through undecoded."""
    t: Column = F.col(html_col)
    for pat, rep in HTML_TEXT_RULES:
        t = F.regexp_replace(t, pat, rep)
    t = F.trim(t)
    raw_len = F.length(F.col(html_col))
    # one withColumns so both expressions see the INPUT column even when
    # out_col == html_col (in-place cleaning, the warc bridge's shape)
    return pages.withColumns({
        out_col: t,
        "markup_frac": F.when(raw_len == 0, F.lit(0.0)).otherwise(
            F.round(1 - F.length(t) / raw_len, 6)),
    })


def anchor_signal(anchors: DataFrame) -> DataFrame:
    """Per-TARGET-host anchor-diversity rollup of
    :func:`extract_anchor_texts` output — the spam/relevance feature
    :func:`crawl_frontier` blends in beside rank and dup-rate: a host
    whose in-anchors are all one phrase ('click here', 'cheap …') reads
    as navigational/spam linkage; organic reputation shows up as many
    distinct topical phrases.

    Output per host: ``anchor_links`` (total in-anchor count),
    ``distinct_anchors``, and ``top_anchor_share`` = modal-anchor count
    / total, rounded to 6 (the concentration statistic — 1.0 means every
    in-link says the same thing).

    Scale shape: two partial+final aggregates (edge→(host, anchor),
    then →host); the max-share argmax is a plain ``max`` over the
    anchor-distinct frame — no windows, nothing corpus-sized."""
    per = anchors.groupBy("dst_host", "anchor").agg(
        F.count("*").alias("_c")
    )
    return (
        per.groupBy("dst_host")
        .agg(
            F.sum("_c").cast("long").alias("anchor_links"),
            F.count("*").cast("long").alias("distinct_anchors"),
            F.max("_c").alias("_top"),
        )
        .select(
            F.col("dst_host").alias("host"),
            "anchor_links", "distinct_anchors",
            F.round(
                F.col("_top").cast("double") / F.col("anchor_links"), 6
            ).alias("top_anchor_share"),
        )
    )


def crawl_frontier(ranks: DataFrame, stats: DataFrame,
                   anchors: DataFrame | None = None) -> DataFrame:
    """Fetch-priority table for the next crawl cycle — the decision
    frame :func:`host_pagerank` and :func:`host_stats` exist to feed:
    inbound reputation (rank) blended with observed crawl behavior
    (dup-rate spam signal + mean page quality) into one score per host.

    Per host in the rank frame (left join on ``host``):

    - **blocked** — stats flagged (dup_rate over the threshold): the
      URL-variant spam verdict drops the host wholesale regardless of
      rank; priority 0.
    - **new** — no stats row (never crawled): priority = pagerank
      unmodified. The optimistic branch IS the frontier — an uncrawled
      host that reputable hosts link to is exactly what a crawler
      fetches next.
    - **known** — priority = round(pagerank * (1 - dup_rate) *
      (0.5 + 0.25 * avg_quality), 6); quality_score ∈ [0, 2] maps the
      factor into [0.5, 1] (exact binary fractions — no repeating-
      decimal drift between engines).

    ``stats`` must carry ``avg_quality`` (host_stats with a
    quality_col). Hosts with stats but absent from the link graph have
    no inbound edge at all (nothing links them, not even themselves) —
    they sit below the teleport floor by definition and are left out;
    union them in at (1-d)/N manually if a deployment wants them.

    When ``anchors`` (an :func:`anchor_signal` frame) is given, the
    anchor-diversity feature joins in as three more columns plus
    ``anchor_spam`` — true when the host's in-anchors are concentrated
    (top_anchor_share ≥ 0.75 over ≥ 4 in-links: near-unanimous anchors
    with enough evidence to mean it) — and a spam-flagged host's
    priority HALVES (× 0.5 exact-binary, re-rounded to 6): demoted, not
    dropped, because unlike the dup-rate verdict the signal is
    circumstantial (legit hosts can be anchored by one brand phrase).
    Hosts with no anchor rows keep priority with zeroed counts — absent
    evidence is not spam.

    Scale shape: ONE host-keyed equi-join (both sides host-cardinality
    outputs of partial+final aggregates) plus one more of the same
    shape when anchors is given, pure column expressions after — no
    new shuffle beyond the joins themselves."""
    s = stats.select("host", "n_pages", "dup_rate", "avg_quality",
                     "flagged")
    known = F.col("n_pages").isNotNull()
    pr = F.col("pagerank")
    priority = (
        F.when(F.col("flagged"), F.lit(0.0))
        .when(
            known,
            F.round(
                pr * (F.lit(1.0) - F.col("dup_rate"))
                * (F.lit(0.5) + F.lit(0.25) * F.col("avg_quality")), 6),
        )
        .otherwise(pr)
    )
    status = (
        F.when(F.col("flagged"), F.lit("blocked"))
        .when(known, F.lit("known"))
        .otherwise(F.lit("new"))
    )
    out = (
        ranks.join(s, "host", "left")
        .select(
            "host", "pagerank", "out_links",
            F.coalesce(F.col("n_pages"), F.lit(0)).cast("bigint")
            .alias("n_pages"),
            "dup_rate", "avg_quality",
            status.alias("status"),
            priority.alias("priority"),
        )
    )
    if anchors is None:
        return out
    spam = F.coalesce(
        (F.col("top_anchor_share") >= 0.75) & (F.col("anchor_links") >= 4),
        F.lit(False),
    )
    return (
        out.join(
            anchors.select("host", "anchor_links", "distinct_anchors",
                           "top_anchor_share"),
            "host", "left",
        )
        .select(
            "host", "pagerank", "out_links", "n_pages", "dup_rate",
            "avg_quality", "status",
            F.coalesce(F.col("anchor_links"), F.lit(0)).cast("bigint")
            .alias("anchor_links"),
            F.coalesce(F.col("distinct_anchors"), F.lit(0)).cast("bigint")
            .alias("distinct_anchors"),
            "top_anchor_share",
            spam.alias("anchor_spam"),
            F.when(spam, F.round(F.col("priority") * 0.5, 6))
            .otherwise(F.col("priority")).alias("priority"),
        )
    )


def frontier_budget(frontier: DataFrame, *, budget: int,
                    per_host_cap: int | None = None) -> DataFrame:
    """Per-cycle fetch-budget allocation across the frontier: a global
    budget of ``budget`` URLs splits across fetchable hosts
    proportionally to priority, optionally capped per host — the sizing
    step between :func:`crawl_frontier`'s ranking and
    :func:`schedule_fetches`' pacing (priority says WHO, this says HOW
    MANY, the scheduler says WHEN).

    Exactness discipline: the proportional split runs in INTEGER
    micro-priority units (round(priority × 1e6) as bigint), so
    ``alloc = budget × pm ÷ total_pm`` is integer arithmetic — engine-
    exact, no float quotient to disagree at a floor boundary. Floor
    division under-allocates by at most #hosts−1 URLs per cycle (the
    remainder is deliberately NOT redistributed: largest-remainder
    assignment would need a global rank over hosts; leaving ≤ one URL
    per host on the table costs nothing at crawl scale and keeps the
    plan window-free). Hosts with priority ≤ 0 or status 'blocked'
    are excluded up front. Degenerate frontier guard: when every
    surviving host's priority rounds to 0 micro-units the total is 0
    and the non-ANSI integer DIV would return NULL — weight and alloc
    explicitly fall back to 0 instead (allocate nothing, don't emit
    NULL rows).

    Output per fetchable host: (host, priority, weight, alloc) with
    weight = round(pm / total_pm, 6) for reporting.

    Scale shape: one filter, one single-row total broadcast back onto
    the host-cardinality frame, pure integer column math — no windows,
    no shuffle beyond the 1-row aggregate."""
    f = frontier.where(
        (F.col("priority") > 0) & (F.col("status") != "blocked")
    ).select(
        "host", "priority",
        F.round(F.col("priority") * 1e6).cast("bigint").alias("_pm"),
    )
    tot = f.agg(F.sum("_pm").alias("_tot"))
    # DIV, not '/': Spark's '/' on bigints is true (double) division,
    # which would reintroduce the float-at-the-floor-boundary hazard
    # the micro-priority units exist to remove
    alloc = F.expr(f"CAST({int(budget)} AS BIGINT) * _pm DIV _tot")
    if per_host_cap is not None:
        alloc = F.least(alloc, F.lit(int(per_host_cap)))
    nonzero = F.coalesce(F.col("_tot"), F.lit(0)) > 0
    return (
        f.crossJoin(F.broadcast(tot))
        .select(
            "host", "priority",
            F.when(
                nonzero,
                F.round(F.col("_pm").cast("double") / F.col("_tot"), 6),
            ).otherwise(F.lit(0.0)).alias("weight"),
            F.when(nonzero, alloc).otherwise(F.lit(0))
            .cast("bigint").alias("alloc"),
        )
    )


def host_drift(pages: DataFrame, *, ts_col: str = "ts",
               url_col: str = "url", text_col: str = "text",
               window: str = "1 hour",
               watermark: str | None = None) -> DataFrame:
    """Per-host windowed crawl telemetry — host_reputation's streaming
    twin: per (event-time window, canonical host), arrival volume and
    the quality gate's aggregate signals, so a single domain turning to
    boilerplate (or a link farm spinning up) surfaces within one window
    of arrival, attributed to the host that caused it — the whole-corpus
    quality_drift can't say WHO moved the needle.

    Same streaming contract as quality_drift: counts and means only
    (no distinct aggregates, so the identical plan runs under
    readStream; pass ``watermark`` for state eviction, append mode
    emits each closed (window, host) group exactly once); state is
    #open-windows × #active-hosts — bounded by the crawl frontier, not
    arrival volume."""
    from .text import STOPWORDS, _tok

    n_words = F.size(_tok(text_col))
    n_stop = F.size(F.filter(_tok(text_col), lambda x: x.isin(*STOPWORDS)))
    stop_ratio = n_stop.cast("double") / n_words.cast("double")
    score = (
        F.when(n_words >= 20, F.lit(1)).otherwise(0)
        + F.when(stop_ratio <= 0.2, F.lit(1)).otherwise(0)
    )
    src = pages
    if watermark:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.select(
            F.col(ts_col),
            url_host(url_col).alias("host"),
            score.alias("_q"),
        )
        .groupBy(F.window(ts_col, window).alias("w"), "host")
        .agg(
            F.count("*").alias("n_pages"),
            F.round(F.avg("_q"), 6).alias("avg_quality"),
            F.round(F.avg((F.col("_q") < 2).cast("double")), 6)
            .alias("low_quality_frac"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "host", "n_pages", "avg_quality", "low_quality_frac",
        )
    )


def triangle_count(edges: DataFrame, *, src_col: str = "src_host",
                   dst_col: str = "dst_host") -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED simplification of
    the link graph — the local clustering signal: link farms and
    mutual-citation rings form dense triangle clusters while organic
    hub-and-spoke linking is triangle-sparse, so triangle density per
    host complements host_pagerank (global endorsement) and
    hits_scores (hub/authority role) in the crawl-reputation family.

    Algorithm (the standard distributed wedge-close): orient every
    edge canonically (a < b after dedup/self-loop removal), build
    wedges by self-joining on the low vertex with b < c so each
    candidate triangle is enumerated EXACTLY once as (a < b < c), then
    close each wedge against the oriented edge set. Two equi-joins +
    one explode-groupBy; no window, no driver state.

    Scale note: production triangle counting orders vertices by
    (degree, id) instead of raw id so the wedge join fans out on
    low-degree vertices — same plan shape, different orientation key;
    with the id orientation used here the wedge count is bounded by
    sum(out_deg^2) of the canonical orientation. The edge frame is
    persisted across its three uses.

    Output: (host, n_triangles) for EVERY node of the undirected
    graph, zeros included.
    """
    a = F.least(F.col(src_col), F.col(dst_col)).alias("a")
    b = F.greatest(F.col(src_col), F.col(dst_col)).alias("b")
    e = (
        edges.select(a, b)
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    w = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.a") == F.col("e2.a"))
        .filter(F.col("e1.b") < F.col("e2.b"))
        .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"),
                F.col("e2.b").alias("z"))
    )
    tri = w.join(
        e, (F.col("y") == F.col("a")) & (F.col("z") == F.col("b")))
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = (
        e.select(F.col("a").alias("host"))
        .union(e.select(F.col("b").alias("host")))
        .distinct()
    )
    out = (
        nodes.join(per_node, "host", "left")
        .select(
            "host",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint")
            .alias("n_triangles"),
        )
        .localCheckpoint()
    )
    e.unpersist()
    return out


def host_components(edges: DataFrame, *, src_col: str = "src_host",
                    dst_col: str = "dst_host",
                    iters: int = 4) -> DataFrame:
    """Weakly-connected components over the host link graph via
    hash-min label propagation — the graph-wide form of the
    cluster-id step inside dedup_clusters, applied to crawl topology:
    a component is a link-reachable island (one per isolated site
    network), the unit a crawl scheduler shards by and the reach
    bound for any link-propagated signal (PageRank mass, HITS scores,
    spam labels stop at the component border).

    Semantics: every node starts labeled with itself; each round the
    label becomes min(own, all neighbors') over the UNDIRECTED edge
    set; after enough rounds (graph diameter) every node carries its
    component's lexicographically-minimal host. Fixed ``iters`` keeps
    the oracle unrollable; pair with a converged variant as in
    dedup_clusters_converged when the diameter is unknown.

    Per round: ONE equi-join of the label frame onto the
    both-directions edge frame + groupBy(dst) min + a node-frame
    least() merge. Round frames are cut with lazy localCheckpoints
    inside :func:`_lazy_rounds` (the r12 job-collapse): plans stay
    flat, the double reference per round shares one computation, and
    the ONE eager localCheckpoint at the end materializes every round
    as stages of a single job instead of iters+2 synchronous jobs.
    Labels are host-cardinality; no driver state.

    Output: (host, component, component_size) — component is the min
    host of the island, size joined on with one extra groupBy.
    """
    # both orientations from ONE scan of the (possibly expensive,
    # unpersisted) upstream edge pipeline: the former two-sided union
    # evaluated it twice per cache fill (r12: union 4.7-6.3 s vs
    # explode 3.7-4.6 s for entity_clusters end-to-end, same labels)
    both = (
        edges.select(F.explode(F.array(
            F.struct(F.col(src_col).alias("a"), F.col(dst_col).alias("b")),
            F.struct(F.col(dst_col).alias("a"), F.col(src_col).alias("b")),
        )).alias("_e"))
        .select("_e.a", "_e.b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # pre-partition+sort the loop-invariant edge frame by the round
        # join key ONCE (the k_core discipline): every round's sort-merge
        # join then reuses the cached ordering and only the node-sized
        # label frame moves — without it each round re-sorts the whole
        # edge cache (measured on the entity-resolution graph at sf0.1:
        # 9.4-10.2 s -> 6.0-6.6 s for the 4-round loop, same labels)
        .repartition(F.col("a"))
        .sortWithinPartitions("a")
        .persist()
    )
    nodes = both.select(F.col("a").alias("host")).distinct().persist()
    lab = nodes.select("host", F.col("host").alias("component"))
    # one count job prices the round partitioning from the MEASURED
    # graph size (and materializes the both/nodes caches the loop reads)
    n_nodes = nodes.count()
    with _lazy_rounds(edges, nparts=max(1, n_nodes // 100_000)):
        for _ in range(iters):
            nb = (
                both.join(
                    lab.withColumnRenamed("host", "a"), "a")
                .groupBy(F.col("b").alias("host"))
                .agg(F.min("component").alias("_nb"))
            )
            lab = (
                lab.join(nb, "host", "left")
                .select(
                    "host",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("_nb"), F.col("component")),
                    ).alias("component"),
                )
                .localCheckpoint(eager=False)
            )
    sizes = lab.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("component_size"))
    out = lab.join(sizes, "component").select(
        "host", "component", "component_size").localCheckpoint()
    both.unpersist()
    nodes.unpersist()
    return out


def k_core(edges: DataFrame, *, k: int = 2, iters: int = 4,
           src_col: str = "src_host", dst_col: str = "dst_host") -> DataFrame:
    """k-core decomposition membership (Seidman 1983): iteratively peel
    nodes whose degree in the SURVIVING subgraph is below ``k`` until
    stable — the classic link-spam / low-quality-host filter: content
    farms hang off the web graph as trees and thin chains (peeled),
    while genuinely interlinked communities survive. The graph-
    curation complement of host_pagerank's continuous score: k-core is
    a hard structural gate.

    Semantics: undirected simple graph (both directions, self-loops
    dropped, parallel edges deduped). Each round recomputes degrees
    within the current survivor set and drops nodes with degree < k;
    peeling cascades (removing a pendant can expose its neighbor), so
    ``iters`` must cover the longest peel chain — fixed rounds keep
    the DuckDB oracle unrollable (host_components' discipline); the
    output's degree column proves convergence when every row has
    degree >= k. To make that proof sound, the final degree is a LEFT
    join from the survivor set with coalesce(degree, 0): a
    round-``iters`` survivor whose surviving-degree collapsed to 0
    surfaces as an explicit degree-0 row instead of silently vanishing
    from the groupBy (which would let an unconverged run masquerade as
    converged).

    Per round, MESSAGE-PASSING shape: edge (a, b) votes one degree
    unit for a iff b survives, so a round is ONE survivor semi-join on
    the b side + ONE groupBy(a) count, then a node-sized semi-join
    intersects the counted hosts with the previous survivor set (a
    dead a's count never revives it). The edge frame is repartitioned
    by b ONCE up front: the per-round semi-join then reuses that
    partitioning and only the NODE-sized survivor frame moves — the
    naive both-endpoint filter re-shuffled the full edge frame twice a
    round the moment survivors outgrew the broadcast threshold
    (measured 21.7x shuffle growth for 10x edges at the 1M-host
    probe; this shape keeps shuffle edges-per-round linear). State is
    node-cardinality, localCheckpointed flat plans.

    Output: (host, degree) — survivors of the k-core with their final
    in-core degree.
    """
    # both orientations from ONE scan of the upstream edge pipeline
    # (the host_components explode discipline, r12)
    both = (
        edges.select(F.explode(F.array(
            F.struct(F.col(src_col).alias("a"), F.col(dst_col).alias("b")),
            F.struct(F.col(dst_col).alias("a"), F.col(src_col).alias("b")),
        )).alias("_e"))
        .select("_e.a", "_e.b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .repartition(F.col("b"))
        .sortWithinPartitions("b")
        .persist()
    )
    alive = both.select(F.col("a").alias("host")).distinct().persist()
    init = alive

    def _alive_degrees(cur: DataFrame) -> DataFrame:
        # degree of a within the survivor-induced subgraph: count of
        # edges whose b survives, restricted to surviving a's
        return (
            both.join(cur.withColumnRenamed("host", "b"), "b", "left_semi")
            .groupBy(F.col("a").alias("host"))
            .agg(F.count(F.lit(1)).alias("degree"))
            .join(cur, "host", "left_semi")
        )

    # survivor frames are cut with lazy localCheckpoints inside
    # _lazy_rounds (r12 job-collapse; see host_components): flat plans,
    # the two per-round references (semi-join b side + the survivor
    # intersect) share one computation, and the single eager
    # localCheckpoint at the end materializes the whole peel in one job
    # instead of iters+2.
    # one count job prices the round partitioning from the MEASURED
    # graph size (and materializes the edge cache the loop reads)
    n_edges = both.count()
    with _lazy_rounds(edges, nparts=max(1, n_edges // 100_000)):
        for _ in range(iters):
            alive = (
                _alive_degrees(alive)
                .filter(F.col("degree") >= k)
                .select("host")
                .localCheckpoint(eager=False)
            )
    final_deg = (
        both.join(alive.withColumnRenamed("host", "b"), "b", "left_semi")
        .groupBy(F.col("a").alias("host"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    out = (
        alive.join(final_deg, "host", "left")
        .select("host",
                F.coalesce(F.col("degree"), F.lit(0))
                .cast("bigint").alias("degree"))
        .localCheckpoint()
    )
    both.unpersist()
    init.unpersist()
    return out


def clustering_coefficient(edges: DataFrame, *,
                           src_col: str = "src_host",
                           dst_col: str = "dst_host") -> DataFrame:
    """Local clustering coefficient per node — triangle density
    normalized by wedge capacity: coeff(v) = 2*T(v) / (deg(v)*(deg(v)-1))
    over the undirected simple graph, 0 for degree < 2. The
    scale-free reputation ratio on top of triangle_count's raw counts:
    a 10-triangle node means collusion at degree 5 and noise at
    degree 1000, and THIS is the number that separates them (the
    link-farm detector beside k_core's hard gate).

    Determinism: 2*T and deg*(deg-1) are exact integers; the emitted
    coefficient is ONE double division (num.py discipline).

    Plan: triangle_count's two wedge equi-joins + one degree groupBy
    over the same undirected edge frame + a node-sized join — shuffle
    is edge-bounded, output node-sized.

    Output: (host, degree, n_triangles, coeff).
    """
    tri = triangle_count(edges, src_col=src_col, dst_col=dst_col)
    a = F.least(F.col(src_col), F.col(dst_col)).alias("a")
    b = F.greatest(F.col(src_col), F.col(dst_col)).alias("b")
    e = (
        edges.select(a, b)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("host"))
        .union(e.select(F.col("b").alias("host")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    cap = F.col("degree") * (F.col("degree") - 1)
    return tri.join(deg, "host").select(
        "host", "degree", "n_triangles",
        F.when(F.col("degree") < 2, F.lit(0.0))
        .otherwise((2 * F.col("n_triangles")).cast("double")
                   / cap.cast("double")).alias("coeff"),
    )
