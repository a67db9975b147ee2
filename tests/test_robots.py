"""robots.txt parser: local semantics + the Spark table path feeding
the frontier (the rule table robots_filter/politeness_dequeue consume)."""

from __future__ import annotations

from parsel_spark.functions.robots import parse_robots_txt, robots_table_from_txt

SIMPLE = """
# comments ignored
User-agent: *
Disallow: /private
Disallow: /tmp
Allow: /tmp/public
Crawl-delay: 2.5
"""

GROUPED = """
User-agent: googlebot
User-agent: fancybot
Disallow: /no-fancy

User-agent: *
Disallow: /no-anyone
Crawl-delay: 7
"""

MALFORMED = """
User-agent *
Disallow /x
Crawl-delay: soon
User-agent: *
Disallow: /real
Disallow:
"""


def test_parse_basic_group() -> None:
    r = parse_robots_txt(SIMPLE)
    assert r["deny_prefixes"] == ["/private", "/tmp"]
    assert r["allow_prefixes"] == ["/tmp/public"]
    assert r["crawl_delay"] == 2.5


def test_specific_agent_beats_star() -> None:
    assert parse_robots_txt(GROUPED, agent="FancyBot")["deny_prefixes"] == [
        "/no-fancy"
    ]
    assert parse_robots_txt(GROUPED, agent="otherbot")["deny_prefixes"] == [
        "/no-anyone"
    ]
    assert parse_robots_txt(GROUPED, agent="otherbot")["crawl_delay"] == 7.0


def test_shared_ua_lines_form_one_group() -> None:
    assert parse_robots_txt(GROUPED, agent="googlebot")["deny_prefixes"] == [
        "/no-fancy"
    ]


def test_malformed_never_raises_and_recovers() -> None:
    r = parse_robots_txt(MALFORMED)
    # lines without ':' and bad delay values skipped; empty Disallow is
    # allow-all (no rule); the valid group still parses
    assert r["deny_prefixes"] == ["/real"]
    assert r["crawl_delay"] == 1.0


def test_empty_and_none_default_allow_all() -> None:
    for text in (None, "", "User-agent: otherbot\nDisallow: /x"):
        r = parse_robots_txt(text, agent="mybot") if text else parse_robots_txt(text)
        assert r["allow_prefixes"] == ["/"]
        assert r["deny_prefixes"] == []


def test_full_site_disallow_blocks_everything(spark) -> None:
    """A Disallow-only group must NOT get a synthesized ``Allow: /``:
    under the allow-wins tie-break that fake rule would tie
    ``Disallow: /`` and open the whole site (round-1 advice bug)."""
    from pyspark.sql import functions as F

    from parsel_spark.operators.frontier import robots_filter

    closed = "User-agent: *\nDisallow: /\n"
    r = parse_robots_txt(closed)
    assert r["allow_prefixes"] == []
    assert r["deny_prefixes"] == ["/"]

    txt = spark.createDataFrame(
        [("a.test", closed)], "host string, robots_txt string"
    )
    table = robots_table_from_txt(txt)
    links = spark.createDataFrame(
        [("http://a.test/",), ("http://a.test/any/page",)], "url string"
    ).select("url", F.xxhash64("url").alias("url_hash"))
    assert robots_filter(links, table).count() == 0


def test_all_matching_groups_merge() -> None:
    """RFC 9309 §2.2.1: rules from EVERY group matching the agent apply;
    a second ``User-agent: *`` block must not be silently dropped."""
    two_star = (
        "User-agent: *\nDisallow: /a\n\n"
        "User-agent: *\nDisallow: /b\nAllow: /b/ok\nCrawl-delay: 4\n"
    )
    r = parse_robots_txt(two_star)
    assert r["deny_prefixes"] == ["/a", "/b"]
    assert r["allow_prefixes"] == ["/b/ok"]
    assert r["crawl_delay"] == 4.0
    # specific-agent groups still beat (and exclude) the '*' groups
    mixed = (
        "User-agent: mybot\nDisallow: /mine\n\n"
        "User-agent: *\nDisallow: /star\n\n"
        "User-agent: mybot\nDisallow: /mine2\n"
    )
    r = parse_robots_txt(mixed, agent="mybot")
    assert r["deny_prefixes"] == ["/mine", "/mine2"]


def test_spark_table_feeds_frontier_filter(spark) -> None:
    from pyspark.sql import functions as F

    from parsel_spark.operators.frontier import robots_filter

    txt = spark.createDataFrame(
        [
            ("a.test", SIMPLE),
            ("b.test", None),
        ],
        "host string, robots_txt string",
    )
    table = robots_table_from_txt(txt)
    rows = {r["host"]: r.asDict() for r in table.collect()}
    assert rows["a.test"]["deny_prefixes"] == ["/private", "/tmp"]
    assert rows["a.test"]["crawl_delay"] == 2.5
    assert rows["b.test"]["deny_prefixes"] == []

    links = spark.createDataFrame(
        [
            ("http://a.test/private/x",),
            ("http://a.test/ok",),
            ("http://b.test/private/x",),
        ],
        "url string",
    ).select("url", F.xxhash64("url").alias("url_hash"))
    allowed = {r["url"] for r in robots_filter(links, table).collect()}
    assert allowed == {"http://a.test/ok", "http://b.test/private/x"}


def test_allow_overrides_broader_disallow(spark) -> None:
    """RFC 9309 longest-match: a more specific Allow wins over Disallow,
    in BOTH the Spark filter and the oracle twin."""
    from pyspark.sql import functions as F

    from parsel_spark.operators.frontier import robots_filter

    txt = spark.createDataFrame([("a.test", SIMPLE)], "host string, robots_txt string")
    table = robots_table_from_txt(txt)
    links = spark.createDataFrame(
        [
            ("http://a.test/tmp/public/file",),   # allow(/tmp/public) > deny(/tmp)
            ("http://a.test/tmp/secret",),        # deny(/tmp) wins
        ],
        "url string",
    ).select("url", F.xxhash64("url").alias("url_hash"))
    allowed = {r["url"] for r in robots_filter(links, table).collect()}
    assert allowed == {"http://a.test/tmp/public/file"}

    from parsel_spark.plans.oracle import OracleCrawler

    oracle = OracleCrawler.__new__(OracleCrawler)
    oracle.robots = {
        "a.test": {
            "deny_prefixes": ["/private", "/tmp"],
            "allow_prefixes": ["/tmp/public"],
        }
    }
    assert oracle._robots_allowed("http://a.test/tmp/public/file")
    assert not oracle._robots_allowed("http://a.test/tmp/secret")


def test_pathless_url_defaults_to_root_in_both_modes(spark) -> None:
    """'http://host' (no path) must evaluate as path '/' in the JVM
    ``robots_filter``, the python twin the crawl gate runs AND the
    oracle — a root-level deny ('/') blocks it everywhere (parse_url
    returns an empty path there, which previously made the JVM side
    allow what the python side denied)."""
    from pyspark.sql import functions as F

    from parsel_spark.operators.frontier import robots_allowed_py, robots_filter

    table = spark.createDataFrame(
        [("a.test", ["/"], [], 1.0, 8)],
        "host string, deny_prefixes array<string>, "
        "allow_prefixes array<string>, crawl_delay double, "
        "max_fetch_per_wave int",
    )
    links = spark.createDataFrame(
        [("http://a.test",), ("http://b.test",)], "url string"
    ).select("url", F.xxhash64("url").alias("url_hash"))
    jvm_allowed = {r["url"] for r in robots_filter(links, table).collect()}
    assert jvm_allowed == {"http://b.test"}

    rules_map = {"a.test": (("/",), ())}
    from urllib.parse import urlsplit

    for url in ("http://a.test", "http://b.test"):
        path = urlsplit(url).path or "/"
        host = urlsplit(url).hostname
        udf_ok = robots_allowed_py(host, path, rules_map)
        assert udf_ok == (url in jvm_allowed), url


class TestSitemapDirectives:
    def test_global_repeatable_deduped(self) -> None:
        from parsel_spark.functions.robots import parse_sitemap_urls

        txt = (
            "Sitemap: http://a.test/sitemap.xml\n"
            "User-agent: *\nDisallow: /private\n"
            "sitemap: http://a.test/sitemap-news.xml  # comment\n"
            "Sitemap: http://a.test/sitemap.xml\n"  # exact dup collapses
        )
        assert parse_sitemap_urls(txt) == [
            "http://a.test/sitemap.xml",
            "http://a.test/sitemap-news.xml",
        ]
        assert parse_sitemap_urls(None) == []
        assert parse_sitemap_urls("User-agent: *\nDisallow:") == []

    def test_column_form(self, spark) -> None:
        from parsel_spark.functions.robots import robots_sitemaps

        df = spark.createDataFrame(
            [
                ("h1", "Sitemap: http://h1.test/s.xml\nUser-agent: *"),
                ("h2", "User-agent: *\nDisallow: /x"),
                ("h3", None),
            ],
            "host string, robots string",
        )
        got = {
            r["host"]: list(r["s"])
            for r in df.select(
                "host", robots_sitemaps("robots").alias("s")
            ).collect()
        }
        assert got == {"h1": ["http://h1.test/s.xml"], "h2": [], "h3": []}


class TestWildcardPatterns:
    """RFC 9309 §2.2.3: '*' matches any run, trailing '$' anchors."""

    CASES = [
        ("/fish*", "/fish", True),
        ("/fish*", "/fishheads/yummy.html", True),
        ("/fish*", "/catfish", False),           # still prefix-rooted
        ("/*.php", "/index.php", True),
        ("/*.php", "/folder/any.php.file.html", True),  # unanchored
        ("/*.php", "/index.html", False),
        ("/*.php$", "/index.php", True),
        ("/*.php$", "/index.php?query", False),  # anchored: path ends .php
        ("/*.php$", "/index.phps", False),
        ("/fish$", "/fish", True),
        ("/fish$", "/fishing", False),
        ("/a$b", "/a$b/c", True),                # non-trailing '$' literal
        ("/a*b*c", "/a-x-b-y-c-z", True),
        ("/p_q%r", "/p_q%r/s", True),            # LIKE metachars literal
        ("/p_q%r", "/pXq%r/s", False),
        ("$", "", True),
    ]

    def test_python_matcher(self) -> None:
        from parsel_spark.functions.robots import robots_pattern_matches

        for pattern, path, want in self.CASES:
            assert robots_pattern_matches(pattern, path) is want, (
                pattern,
                path,
            )

    def test_jvm_matcher_parity(self, spark) -> None:
        from pyspark.sql import functions as F

        from parsel_spark.functions.robots import robots_pattern_like

        df = spark.createDataFrame(
            [(p, q) for p, q, _ in self.CASES],
            "pattern string, path string",
        )
        got = df.select(
            "pattern",
            "path",
            robots_pattern_like(F.col("path"), F.col("pattern")).alias("m"),
        ).collect()
        want = {(p, q): w for p, q, w in self.CASES}
        for row in got:
            assert row["m"] is want[(row["pattern"], row["path"])], (
                row["pattern"],
                row["path"],
            )

    def test_duckdb_like_translation_parity(self) -> None:
        """The SAME LIKE translation evaluates identically in DuckDB —
        the relational algebra is engine-portable."""
        import duckdb

        from parsel_spark.functions.robots import robots_pattern_matches

        for pattern, path, want in self.CASES:
            anchored = pattern.endswith("$")
            core = pattern[:-1] if anchored else pattern
            esc = (
                core.replace("\\", "\\\\")
                .replace("%", "\\%")
                .replace("_", "\\_")
                .replace("*", "%")
            )
            like_pat = esc if anchored else esc + "%"
            (got,) = duckdb.sql(
                "SELECT ? LIKE ? ESCAPE '\\'", params=[path, like_pat]
            ).fetchone()
            assert got is want, (pattern, path)
            assert got is robots_pattern_matches(pattern, path)

    def test_wildcards_in_both_frontier_modes(self, spark) -> None:
        """``robots_filter`` (LIKE translation) and the crawl gate's
        python twin (regex) must agree on wildcard/anchored rules, incl.
        the allow-wins longest-match interplay."""
        from urllib.parse import urlsplit

        from pyspark.sql import functions as F

        from parsel_spark.operators.frontier import (
            robots_allowed_py,
            robots_filter,
        )

        deny = ["/*.php$", "/private*", "/*?*session=*"]
        allow = ["/private/ok*"]
        table = spark.createDataFrame(
            [("a.test", deny, allow, 1.0, 8)],
            "host string, deny_prefixes array<string>, "
            "allow_prefixes array<string>, crawl_delay double, "
            "max_fetch_per_wave int",
        )
        urls = [
            "http://a.test/index.php",        # denied (anchored wildcard)
            # match target includes the query (RFC 9309/Google):
            # '/index.php?x=1' does NOT end in .php -> the anchor misses
            "http://a.test/index.php?x=1",
            "http://a.test/index.php/extra",  # allowed: anchor misses
            "http://a.test/x?a=1&session=9",  # denied via query wildcard
            "http://a.test/private/no",       # denied
            "http://a.test/private/okay",     # allowed override (longer)
            "http://a.test/public/a.html",    # allowed
        ]
        links = spark.createDataFrame(
            [(u,) for u in urls], "url string"
        ).select("url", F.xxhash64("url").alias("url_hash"))
        jvm = {r["url"] for r in robots_filter(links, table).collect()}
        assert jvm == {
            "http://a.test/index.php?x=1",
            "http://a.test/index.php/extra",
            "http://a.test/private/okay",
            "http://a.test/public/a.html",
        }
        from parsel_spark.operators.frontier import _robots_match_target

        rules_map = {"a.test": (tuple(deny), tuple(allow))}
        for url in urls:
            parts = urlsplit(url)
            assert robots_allowed_py(
                parts.hostname, _robots_match_target(url), rules_map
            ) == (url in jvm), url
