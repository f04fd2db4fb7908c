"""robots.txt politeness: RFC 9309 longest-match subset."""

from goose_parser_spark.ops.robots import (
    parse_robots, parse_robots_text, robots_filter)


def test_parse_robots_text_groups_and_rules():
    body = (
        "# comment\n"
        "User-agent: googlebot\n"
        "Disallow: /g\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /private\n"
        "Allow: /private/ok\n"
        "Disallow:\n"          # empty: no rule
        "Disallow: /tmp*junk\n"  # wildcard: conservative literal prefix
    )
    rules = parse_robots_text(body, agent="*")
    assert ("disallow", "/private") in rules
    assert ("allow", "/private/ok") in rules
    assert ("disallow", "/tmp") in rules
    assert all(p != "" for _, p in rules)
    assert ("disallow", "/g") not in rules          # other agent's group
    assert parse_robots_text(body, agent="googlebot") == [("disallow", "/g")]
    # multiple agents sharing one group
    shared = "User-agent: a\nUser-agent: b\nDisallow: /x\n"
    assert parse_robots_text(shared, agent="B") == [("disallow", "/x")]
    # no matching group and no * group: allow all
    assert parse_robots_text("User-agent: zzz\nDisallow: /\n", "*") == []


def test_robots_filter_longest_match_and_plan(spark):
    robots = spark.createDataFrame([
        ("a.test", "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"),
        ("b.test", "User-agent: *\nDisallow: /\n"),
    ], "host string, robots_txt string")
    rules = parse_robots(robots)
    urls = spark.createDataFrame([
        ("https://a.test/private/ok/x",),   # allow (longer) wins
        ("https://a.test/private/x",),      # disallowed
        ("https://a.test/pub",),            # no match: allowed
        ("https://b.test/anything",),       # blanket disallow
        ("https://b.test",),                # bare host: path '' ⇒ '/'
        ("https://a.test",),                # bare host, no match: allowed
        ("https://c.test/x",),              # host without robots: allowed
    ], "url string")
    expect = {"https://a.test/private/ok/x", "https://a.test/pub",
              "https://a.test", "https://c.test/x"}
    # default path (scale-safe, VERDICT r03 #5): AQE decides the join —
    # no plan-time broadcast of the corpus-growing per-host table
    kept = {r["url"] for r in robots_filter(urls, rules).collect()}
    assert kept == expect
    analyzed = robots_filter(urls, rules)._jdf.queryExecution() \
        .analyzed().toString()
    assert "ResolvedHint" not in analyzed     # no forced broadcast hint
    plan = robots_filter(urls, rules)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan
    # bounded-rules path: explicit broadcast keeps the url side
    # shuffle-free with a plan-time BroadcastHashJoin
    kept_b = {r["url"] for r in
              robots_filter(urls, rules, broadcast_rules=True).collect()}
    assert kept_b == expect
    plan_b = robots_filter(urls, rules, broadcast_rules=True) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_b
    assert ("Exchange hashpartitioning"
            not in plan_b.split("BroadcastHashJoin")[0])
    assert "Window" not in plan_b


def test_robots_directives_sitemaps_and_crawl_delay(spark):
    """Sitemap: lines are host-global; Crawl-delay is per-group with
    the specific agent overriding *; junk delays ignored."""
    from goose_parser_spark.ops.robots import robots_directives
    body = ("User-agent: *\n"
            "Crawl-delay: 2.5\n"
            "Disallow: /private\n"
            "Sitemap: https://a.test/sitemap.xml\n"
            "\n"
            "User-agent: fastbot\n"
            "Crawl-delay: 0.5\n"
            "Sitemap: https://a.test/sm2.xml\n")
    df = spark.createDataFrame(
        [("a.test", body), ("b.test", "User-agent: *\nDisallow:"),
         ("c.test", "User-agent: *\nCrawl-delay: soon")],
        "host string, robots_txt string")
    out = {r["host"]: r for r in robots_directives(df).collect()}
    assert out["a.test"]["sitemaps"] == [
        "https://a.test/sitemap.xml", "https://a.test/sm2.xml"]
    assert out["a.test"]["crawl_delay"] == 2.5
    fast = {r["host"]: r
            for r in robots_directives(df, agent="fastbot").collect()}
    assert fast["a.test"]["crawl_delay"] == 0.5
    assert out["b.test"]["sitemaps"] == []
    assert out["b.test"]["crawl_delay"] is None
    assert out["c.test"]["crawl_delay"] is None  # unparseable ignored


def test_robots_directives_last_group_wins_and_sitemap_splits_groups():
    """Same agent heading two groups: the LAST group's Crawl-delay
    wins (crawler convention: later declarations override). An
    interleaved Sitemap: line terminates a run of User-agent lines —
    the groups it separates must NOT merge."""
    from goose_parser_spark.ops.robots import parse_robots_directives_text

    # last-wins: '*' appears in two groups with different delays
    body = ("User-agent: *\n"
            "Crawl-delay: 1\n"
            "Disallow: /a\n"
            "\n"
            "User-agent: *\n"
            "Crawl-delay: 7\n"
            "Disallow: /b\n")
    _, delay = parse_robots_directives_text(body, "*")
    assert delay == 7.0

    # Sitemap: between two User-agent lines starts the rules section
    # of the first group, so 'slowbot' opens a NEW group and must not
    # inherit '*'-group membership for the first Crawl-delay.
    body2 = ("User-agent: *\n"
             "Sitemap: https://x.test/sm.xml\n"
             "User-agent: slowbot\n"
             "Crawl-delay: 9\n")
    sms, d_star = parse_robots_directives_text(body2, "*")
    _, d_slow = parse_robots_directives_text(body2, "slowbot")
    assert sms == ["https://x.test/sm.xml"]
    assert d_slow == 9.0
    # '*' group ended at the Sitemap line; 9 belongs to slowbot only,
    # so '*' has no delay of its own... but slowbot's group IS the
    # fallback-free lookup: '*' resolves to None.
    assert d_star is None


def test_robots_binary_and_null_bodies(spark):
    """Binary bodies decode as UTF-8 (invalid bytes → U+FFFD) on the
    map kernel; they used to fail the task with a TypeError. A NULL
    body has no rules and no directives; a NULL host yields no row."""
    from goose_parser_spark.ops.robots import robots_directives
    df = spark.createDataFrame(
        [("a.test", b"User-agent: *\nDisallow: /x\xff\nCrawl-delay: 3"),
         ("b.test", None), (None, b"User-agent: *\nDisallow: /")],
        "host string, robots_txt binary")
    assert [tuple(r) for r in parse_robots(df).collect()] == [
        ("a.test", "disallow", "/x�")]
    out = {r["host"]: r for r in robots_directives(df).collect()}
    assert sorted(out) == ["a.test", "b.test"]
    assert out["a.test"]["crawl_delay"] == 3.0
    assert (out["b.test"]["sitemaps"], out["b.test"]["crawl_delay"]) == (
        [], None)
