"""robots.txt consumption — a politeness INPUT to the scheduler.

The reference only *drops* robots.txt rows from analytics
(cc/index/mappers/CountMimesByTopLevelDomains.java:63-65); it never obeys
them. The north rule adds real robots filtering: per-host disallow rules
gate what the politeness queue may schedule.

Model: a small ``robots_rules`` table (host, disallow_prefix, crawl_delay)
— in production it is produced by fetching+parsing each host's
/robots.txt (one more fetch stage through the same scheduler); here it is
synthesized deterministically or supplied by the caller.

Plan shapes. Parsing is one ``groupBy(host)`` over the (host, body) rows:
each host's distinct bodies are parsed line by line with higher-order
array functions (one ``aggregate`` fold per body carries the RFC 9309
group state), so the parse is JVM-only, with no window and no join, and
the same aggregation yields the host-wide max Crawl-delay
(``host_rules``). ``parse_robots_txt`` and the scheduler's robots refresh
both read that one per-host frame. Admission (``robots_filter``) is one
broadcast left join of the candidates against a per-host
``array<disallow_prefix>`` followed by a prefix ``exists`` — the rules
table is tiny relative to the frontier (≤ one row per (host, rule)), so
the frontier never shuffles, and each candidate row is read once.
Crawl-delay participates by scaling the per-host budget.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

ROBOTS_SCHEMA = "host string, disallow_prefix string, crawl_delay int"

_UA = r"(?i)^\s*user-agent\s*:"
_DISALLOW = r"(?i)^\s*disallow\s*:"
_DELAY = r"(?i)^\s*crawl-delay\s*:"
_INT_MIN, _INT_MAX = -(2**31), 2**31 - 1
_RULE_LINES = "array<struct<line:string,grouped:boolean,spec:boolean,star:boolean>>"


def _value(line: Column, field: str) -> Column:
    return F.trim(F.regexp_replace(line, field, ""))


def _delay_seconds(value: Column) -> Column:
    """A Crawl-delay value as int seconds, or null when it is not a finite
    number: fractions round up, and values beyond the int range clamp to
    it (a plain int cast raises on all three under ANSI mode)."""
    d = value.try_cast("double")
    finite = ~F.isnan(d) & (F.abs(d) < F.lit(float("inf")))
    clamped = F.least(F.greatest(d, F.lit(float(_INT_MIN))), F.lit(float(_INT_MAX)))
    return F.when(finite, F.ceil(clamped).cast("int"))


def _parse_body(body: Column, agent: str) -> Column:
    """struct(disallow array<string>, crawl_delay int) of one body, with
    RFC 9309 *group* semantics. One left-to-right fold over the lines: a
    User-agent line directly after another joins the current group's agent
    set, any other User-agent line opens a new group, and every Disallow /
    Crawl-delay line is tagged with the flags of the group it sits in (the
    agent lines of a group all precede its rules, so the flags are final by
    then). A body-wide flag records whether ANY group names our agent."""

    def step(acc, line):
        ua = line.rlike(_UA)
        token = F.lower(_value(line, _UA))
        named, starred = ua & (token == agent), ua & (token == "*")
        opens = ua & ~acc["prev_ua"]
        rule = ~ua & (line.rlike(_DISALLOW) | line.rlike(_DELAY))
        tagged = F.array(F.struct(
            line.alias("line"), acc["grouped"].alias("grouped"),
            acc["spec"].alias("spec"), acc["star"].alias("star"),
        ))
        return F.struct(
            ua.alias("prev_ua"),
            (acc["grouped"] | ua).alias("grouped"),
            F.when(opens, named).otherwise(acc["spec"] | named).alias("spec"),
            F.when(opens, starred).otherwise(acc["star"] | starred).alias("star"),
            (acc["any_spec"] | named).alias("any_spec"),
            F.when(rule, F.concat(acc["rules"], tagged))
            .otherwise(acc["rules"]).alias("rules"),
        )

    def finish(acc):
        # a group naming our agent WINS; '*' groups are the fallback only
        # when no group names it (§2.2.1: most specific match, never a
        # union). Lines before any User-agent line apply regardless
        # (lenient; the RFC calls them invalid).
        applied = F.filter(
            acc["rules"],
            lambda r: ~r["grouped"]
            | F.when(acc["any_spec"], r["spec"]).otherwise(r["star"]),
        )
        disallow = F.filter(
            F.transform(
                F.filter(applied, lambda r: r["line"].rlike(_DISALLOW)),
                lambda r: _value(r["line"], _DISALLOW),
            ),
            lambda p: p != "",
        )
        delays = F.transform(
            F.filter(applied, lambda r: r["line"].rlike(_DELAY)),
            lambda r: _delay_seconds(_value(r["line"], _DELAY)),
        )
        return F.struct(
            disallow.alias("disallow"), F.array_max(delays).alias("crawl_delay")
        )

    init = F.struct(
        F.lit(False).alias("prev_ua"),   # previous line was a User-agent line
        F.lit(False).alias("grouped"),   # some User-agent line came before
        F.lit(False).alias("spec"),      # current group names our agent
        F.lit(False).alias("star"),      # current group names '*'
        F.lit(False).alias("any_spec"),  # some group of the body names our agent
        F.array().cast(_RULE_LINES).alias("rules"),
    )
    return F.aggregate(F.split(body, "\n"), init, step, finish)


def host_rules(
    bodies: DataFrame, host_col: str = "host", body_col: str = "body",
    user_agent: str = "*",
) -> DataFrame:
    """One row per host of ``bodies``: (host, prefixes array<string>,
    crawl_delay int) — every in-scope non-empty Disallow value of the
    host's distinct bodies (duplicates within a body kept), and the max
    Crawl-delay over them (null when none is given). One ``groupBy(host)``
    collects the distinct bodies; identical (host, body) rows parse once
    (same body ⇒ same rules), and groups are scoped per body, so two
    bodies of one host never mix their groups."""
    agent = user_agent.lower()
    per_host = bodies.groupBy(F.col(host_col).alias("host")).agg(
        F.collect_set(body_col).alias("bodies")
    )
    parsed = F.transform("bodies", lambda b: _parse_body(b, agent))
    return per_host.select(
        "host",
        F.flatten(F.transform(parsed, lambda p: p["disallow"])).alias("prefixes"),
        F.array_max(F.transform(parsed, lambda p: p["crawl_delay"])).alias(
            "crawl_delay"
        ),
    )


def rule_rows(per_host: DataFrame) -> DataFrame:
    """``host_rules`` output → ROBOTS_SCHEMA rows: one row per disallow
    prefix carrying the host-wide delay (0 when none); a host without
    prefixes yields one row with a null prefix — its delay, or, for a
    host with no rules at all, the allow-all sentinel (null, 0)."""
    return per_host.select(
        "host",
        F.explode_outer("prefixes").alias("disallow_prefix"),
        F.coalesce("crawl_delay", F.lit(0)).alias("crawl_delay"),
    )


def parse_robots_txt(
    bodies: DataFrame, host_col: str = "host", body_col: str = "body",
    user_agent: str = "*",
) -> DataFrame:
    """robots.txt parser over (host, body) rows — JVM-side only, with
    RFC 9309 *group* semantics: consecutive ``User-agent:`` lines form a
    group's agent set; if any group names our ``user_agent`` (exact
    product token, case-insensitive), ONLY those groups' Disallow/
    Crawl-delay lines apply — the ``*`` groups apply only when no
    specific group matches (RFC 9309 §2.2.1: the most specific match
    wins, '*' is the fallback, never a union). Rules appearing before
    any User-agent line are treated as global (lenient; the RFC calls
    them invalid). A Crawl-delay that is not a finite number is ignored;
    a fractional one rounds up and a huge one clamps to the int range.

    Rows: one per in-scope Disallow line with the host-wide max delay
    (0 if none); a host with only a Crawl-delay yields one row with a null
    prefix, so its delay is still enforced; a host with neither yields
    nothing. Plan shape: see ``host_rules`` — one aggregation, no window,
    no join."""
    per_host = host_rules(bodies, host_col, body_col, user_agent)
    return rule_rows(
        per_host.filter(
            (F.size("prefixes") > 0) | F.col("crawl_delay").isNotNull()
        )
    )


def synth_robots_rules(spark: SparkSession, hosts: DataFrame) -> DataFrame:
    """Deterministic robots rules for the sandbox: every 3rd host (by
    xxhash64) disallows /private/, every 5th disallows /p/ entirely, every
    7th asks for crawl-delay 2. Seedless — derived from the host string."""
    h = F.xxhash64("host")
    rules_private = hosts.filter(F.pmod(h, F.lit(3)) == 0).select(
        "host", F.lit("/private/").alias("disallow_prefix"), F.lit(0).alias("crawl_delay")
    )
    rules_p = hosts.filter(F.pmod(h, F.lit(5)) == 0).select(
        "host", F.lit("/p/").alias("disallow_prefix"), F.lit(0).alias("crawl_delay")
    )
    rules_delay = hosts.filter(F.pmod(h, F.lit(7)) == 0).select(
        "host", F.lit("/never-matches/").alias("disallow_prefix"), F.lit(2).alias("crawl_delay")
    )
    return rules_private.unionByName(rules_p).unionByName(rules_delay)


def fetch_robots_bodies(hosts: DataFrame) -> DataFrame:
    """Simulated per-host /robots.txt fetch (the production version is one
    more ranged-fetch stage through the same scheduler): deterministic
    bodies derived from the host hash — every 3rd host disallows /private/,
    every 5th /p/, every 7th sets Crawl-delay 2, the rest allow all."""
    h = F.xxhash64("host")
    body = F.concat(
        F.lit("User-agent: *\n"),
        F.when(F.pmod(h, F.lit(3)) == 0, F.lit("Disallow: /private/\n")).otherwise(F.lit("")),
        F.when(F.pmod(h, F.lit(5)) == 0, F.lit("Disallow: /p/\n")).otherwise(F.lit("")),
        F.when(F.pmod(h, F.lit(7)) == 0, F.lit("Crawl-delay: 2\n")).otherwise(F.lit("")),
    )
    return hosts.select("host", body.alias("body"))


def bootstrap_robots(hosts: DataFrame) -> DataFrame:
    """The full robots path: fetch (simulated) → parse → rules table —
    what a production crawl runs once per newly-seen host before its URLs
    become schedulable."""
    return parse_robots_txt(fetch_robots_bodies(hosts))


def robots_filter(candidates: DataFrame, rules: DataFrame) -> DataFrame:
    """Drop candidates whose canonical path starts with a disallowed prefix
    for their host. The rules fold into one ``array<disallow_prefix>`` per
    host, broadcast and left-joined to the candidates; a null-safe
    ``exists`` prefix test then keeps or drops each row in place — no
    anti-join, so the candidate subtree is consumed once and the frontier
    never shuffles. Candidate columns keep their order."""
    prefixes = (
        rules.filter(F.col("disallow_prefix").isNotNull())
        .groupBy("host")
        .agg(F.collect_list("disallow_prefix").alias("__prefixes"))
    )
    path = F.regexp_replace(F.col("url_canon"), r"^[a-z]+://[^/]+", "")
    blocked = F.exists("__prefixes", lambda p: path.startswith(p))
    return (
        candidates.join(F.broadcast(prefixes), "host", "left")
        .filter(~F.coalesce(blocked, F.lit(False)))
        .select(*candidates.columns)
    )


def budget_with_crawl_delay(
    rules: DataFrame, base_budget: int, round_seconds: int = 60
) -> DataFrame:
    """Per-host budget table: hosts with Crawl-delay d get at most
    round_seconds/d fetches per round (min 1), others the base budget."""
    per_host = rules.groupBy("host").agg(F.max("crawl_delay").alias("crawl_delay"))
    # Crawl-delay may only THROTTLE: the derived budget is clamped to
    # base_budget so a small delay can never raise a host above the cap
    # applied to hosts with no robots.txt at all
    return per_host.select(
        "host",
        F.when(
            F.col("crawl_delay") > 0,
            F.least(
                F.lit(base_budget),
                F.greatest(
                    F.floor(F.lit(round_seconds) / F.col("crawl_delay")), F.lit(1)
                ),
            ),
        )
        .otherwise(F.lit(base_budget))
        .cast("int")
        .alias("host_budget"),
    )
