"""robots.txt parser rows against a pure-Python model of the RFC 9309
group rules, plus the Crawl-delay values a plain int cast cannot take."""

from __future__ import annotations

import math
import re
from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from simplecommoncrawlextractor_spark.plans.robots import parse_robots_txt

INT_MAX = 2**31 - 1
AGENTS = ["*", "ccspark"]


def _rows(spark, pairs, user_agent="*"):
    df = spark.createDataFrame(pairs, "host string, body string")
    return Counter(
        tuple(r) for r in parse_robots_txt(df, user_agent=user_agent).collect()
    )


def test_fractional_crawl_delay_rounds_up(spark):
    got = _rows(spark, [("h", "User-agent: *\nDisallow: /x/\nCrawl-delay: 1.5")])
    assert got == Counter({("h", "/x/", 2): 1})


def test_non_numeric_crawl_delay_is_ignored(spark):
    assert _rows(spark, [("h", "User-agent: *\nCrawl-delay: soon")]) == Counter()
    got = _rows(spark, [("h", "User-agent: *\nDisallow: /x/\nCrawl-delay: soon")])
    assert got == Counter({("h", "/x/", 0): 1})


def test_huge_crawl_delay_clamps_to_int_max(spark):
    got = _rows(spark, [("h", "User-agent: *\nCrawl-delay: 99999999999")])
    assert got == Counter({("h", None, INT_MAX): 1})


# -- pure-Python model ------------------------------------------------------

_UA = re.compile(r"(?i)^\s*user-agent\s*:")
_DIS = re.compile(r"(?i)^\s*disallow\s*:")
_DELAY = re.compile(r"(?i)^\s*crawl-delay\s*:")


def _value(pattern, line):
    return pattern.sub("", line, count=1).strip(" ")


def _delay(text):
    try:
        d = float(text)
    except ValueError:
        return None
    if not math.isfinite(d):
        return None
    return math.ceil(min(max(d, -(2**31)), INT_MAX))


def model_rows(pairs, agent):
    """RFC 9309 groups: consecutive User-agent lines share a group; the
    groups naming ``agent`` apply, else the '*' groups; lines before any
    group apply always. Identical (host, body) rows count once."""
    prefixes, delays, hosts = {}, {}, []
    for host, body in sorted(set(pairs)):
        groups, headless, prev_ua = [], [], False
        for line in body.split("\n"):
            if _UA.match(line):
                if not prev_ua:
                    groups.append((set(), []))
                groups[-1][0].add(_value(_UA, line).lower())
                prev_ua = True
                continue
            prev_ua = False
            if _DIS.match(line) or _DELAY.match(line):
                (groups[-1][1] if groups else headless).append(line)
        specific = [g for g in groups if agent.lower() in g[0]]
        chosen = specific or [g for g in groups if "*" in g[0]]
        applied = headless + [line for g in chosen for line in g[1]]
        hosts.append(host)
        prefixes.setdefault(host, []).extend(
            v for v in (_value(_DIS, x) for x in applied if _DIS.match(x)) if v
        )
        delays.setdefault(host, []).extend(
            d for d in (_delay(_value(_DELAY, x)) for x in applied if _DELAY.match(x))
            if d is not None
        )
    out = Counter()
    for host in set(hosts):
        delay = max(delays[host]) if delays[host] else None
        if prefixes[host]:
            out.update((host, p, delay or 0) for p in prefixes[host])
        elif delay is not None:
            out[(host, None, delay)] += 1
    return out


_agent_line = st.sampled_from(
    ["User-agent: *", "user-agent:*", "User-Agent :  ccspark", "User-agent: CCSpark",
     "User-agent: evilbot", "User-agent: otherbot"]
)
_rule_line = st.sampled_from(
    ["Disallow: /a/", "Disallow: /b", "disallow:/private/", "Disallow:", "Disallow:   ",
     "Crawl-delay: 2", "Crawl-delay: 0", "crawl-delay : 5", "Crawl-delay: -1",
     "Crawl-delay: 1.5", "Crawl-delay: soon", "Crawl-delay: 99999999999",
     "Crawl-delay: NaN", "Crawl-delay:"]
)
_other_line = st.sampled_from(["", "# comment", "Allow: /a/x", "Sitemap: /s.xml"])
_body = st.lists(
    st.one_of(_agent_line, _agent_line, _rule_line, _rule_line, _other_line),
    max_size=12,
).map("\n".join)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(_body, min_size=1, max_size=6).flatmap(
        lambda bodies: st.lists(
            st.tuples(
                st.sampled_from(["h0", "h1", "h2", "h3"]), st.sampled_from(bodies)
            ),
            min_size=1,
            max_size=12,
        )
    )
)
def test_parser_matches_group_model(spark, pairs):
    """Random bodies — agent groups, consecutive User-agent lines, rules
    before any group, empty Disallow, delay-only hosts, the same host with
    several (possibly identical) bodies — parse to the model's rows. One
    DataFrame per user agent for the whole example batch."""
    for agent in AGENTS:
        assert _rows(spark, pairs, agent) == model_rows(pairs, agent), agent
