"""robots.txt crawl-delay extraction (SURVEY §2.1 S4 — reference
``config.py:31-47`` ``get_crawl_delay``).

Fetch-side politeness is out of scope for the engine, but the *parse* is
dataflow: a (domain, robots_txt) table → per-domain crawl-delay dimension,
joined onto the crawl frontier to schedule politely. Uses the same stdlib
``RobotFileParser`` semantics the reference uses (specific user-agent
group first, ``*`` fallback, default when absent), Arrow-batched.
"""

from __future__ import annotations

from typing import Optional
from urllib.robotparser import RobotFileParser

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

DEFAULT_CRAWL_DELAY = 0.0  # reference config.py:23


def crawl_delay_for(txt: str, user_agent: str,
                    default: float = DEFAULT_CRAWL_DELAY) -> float:
    """Reference get_crawl_delay semantics (config.py:36-47): specific UA
    group, then '*', then the default; parse errors → default."""
    try:
        rp = RobotFileParser()
        rp.parse((txt or "").splitlines())
        delay: Optional[float] = rp.crawl_delay(user_agent)
        if delay is None:
            delay = rp.crawl_delay("*")
        return float(delay) if delay is not None else default
    except Exception:
        return default


def crawl_delays(robots: DataFrame, user_agent: str,
                 default: float = DEFAULT_CRAWL_DELAY) -> DataFrame:
    """(…, robots_txt) → (…, crawl_delay double) — a politeness dimension
    broadcastable onto the frontier."""

    def _batch(txt: pd.Series) -> pd.Series:
        return pd.Series(
            [crawl_delay_for(t or "", user_agent, default) for t in txt]
        )

    udf = pandas_udf(_batch, returnType=DoubleType())
    return robots.withColumn("crawl_delay", udf(F.col("robots_txt")))


def sitemaps_from_robots(robots: DataFrame) -> DataFrame:
    """Sitemap discovery: every ``Sitemap:`` directive in each robots.txt
    (the standard sitemap-autodiscovery mechanism, how crawls find the
    sitemaps :mod:`.sitemap` then parses). Fully native: split to lines,
    case-insensitive prefix match, trim — one row per (…, sitemap_url);
    feeds :func:`.sitemap.sitemap_locs` → seed anti-join."""
    lines = robots.withColumn(
        "_line", F.explode(F.split(F.col("robots_txt"), "\r?\n"))
    )
    return (
        lines.filter(F.lower(F.trim("_line")).rlike(r"^sitemap\s*:"))
        .withColumn(
            "sitemap_url",
            F.trim(F.regexp_replace(F.trim("_line"), r"(?i)^sitemap\s*:\s*", "")),
        )
        .filter(F.length("sitemap_url") > 0)
        .drop("_line", "robots_txt")
    )


def disallow_rules(robots: DataFrame, user_agent: str) -> DataFrame:
    """(…, path_prefix) Disallow rules effective for ``user_agent``
    (specific UA group over ``*``, RobotFileParser group semantics) — a
    dimension the frontier anti-joins on ``url path startswith prefix``.
    Arrow-batched parse, same stdlib parser as the reference."""
    from pyspark.sql.types import ArrayType, StringType

    def _batch(txt: pd.Series) -> pd.Series:
        out = []
        for t in txt:
            try:
                rp = RobotFileParser()
                rp.parse((t or "").splitlines())
                best = None
                star = None
                for ent in getattr(rp, "entries", []):
                    if any(ua == "*" for ua in ent.useragents):
                        star = ent
                    elif any(user_agent.lower().startswith(ua.lower())
                             for ua in ent.useragents):
                        best = ent
                if best is None:
                    best = star if star is not None else rp.default_entry
                rules = []
                if best is not None:
                    for rl in best.rulelines:
                        if not rl.allowance and rl.path:
                            rules.append(rl.path)
                out.append(rules)
            except Exception:
                out.append([])
        return pd.Series(out)

    udf = pandas_udf(_batch, returnType=ArrayType(StringType()))
    return (
        robots.withColumn("_rules", udf(F.col("robots_txt")))
        .withColumn("path_prefix", F.explode("_rules"))
        .drop("_rules", "robots_txt")
    )


def _rep_pattern_to_regex(p: str) -> str:
    """RFC 9309 path pattern → Java/RE2-safe regex: ``*`` matches any
    run of octets, a trailing ``$`` anchors at end; everything else is
    literal."""
    import re as _re

    anchor = p.endswith("$")
    core = p[:-1] if anchor else p
    rx = "^" + ".*".join(_re.escape(seg) for seg in core.split("*"))
    return rx + "$" if anchor else rx


def google_robots_rules(robots: DataFrame, user_agent: str) -> DataFrame:
    """RFC 9309 / Google-style rule dimension: one row per Allow or
    Disallow line in the effective UA group — ``(…, allow, pattern,
    specificity, _rx)`` with ``specificity`` = raw pattern octet length
    (the RFC's most-specific-match key) and ``_rx`` the pattern
    pre-compiled to a regex so the verdict join is pure JVM rlike.

    Group selection mirrors ``disallow_rules`` (specific UA group over
    ``*``, groups replace not merge); unlike the stdlib path it keeps
    BOTH allow and disallow lines and preserves wildcard/``$`` syntax
    the stdlib parser treats as literals.
    """
    from pyspark.sql.types import (
        ArrayType, BooleanType, StringType, StructField, StructType,
    )

    rule_t = ArrayType(StructType([
        StructField("allow", BooleanType()),
        StructField("pattern", StringType()),
    ]))

    def _batch(txt: pd.Series) -> pd.Series:
        out = []
        ua = user_agent.lower()
        for t in txt:
            groups: list = []          # (uas, rules)
            cur_uas: list = []
            cur_rules: list = []
            in_rules = False
            for line in (t or "").splitlines():
                line = line.split("#", 1)[0].strip()
                if not line or ":" not in line:
                    continue
                key, _, val = line.partition(":")
                key, val = key.strip().lower(), val.strip()
                if key == "user-agent":
                    if in_rules and cur_uas:
                        groups.append((cur_uas, cur_rules))
                        cur_uas, cur_rules = [], []
                        in_rules = False
                    cur_uas.append(val.lower())
                elif key in ("allow", "disallow"):
                    in_rules = True
                    if val:
                        cur_rules.append((key == "allow", val))
            if cur_uas:
                groups.append((cur_uas, cur_rules))
            best = star = None
            for uas, rules in groups:
                if "*" in uas:
                    star = rules
                if any(ua.startswith(u) for u in uas if u != "*"):
                    best = rules
            out.append(best if best is not None else (star or []))
        return pd.Series(out)

    udf = pandas_udf(_batch, returnType=rule_t)
    rules = (
        robots.withColumn("_r", udf(F.col("robots_txt")))
        .withColumn("_e", F.explode("_r"))
        .drop("_r", "robots_txt")
        .select("*", F.col("_e.allow").alias("allow"),
                F.col("_e.pattern").alias("pattern"))
        .drop("_e")
    )
    rx = pandas_udf(
        lambda p: p.map(_rep_pattern_to_regex), StringType()
    )
    return rules.select(
        "*",
        F.length("pattern").cast("bigint").alias("specificity"),
        rx(F.col("pattern")).alias("_rx"),
    )


def google_robots_verdict(urls: DataFrame, rules: DataFrame,
                          key_cols: tuple = ("doc_id",)) -> DataFrame:
    """Per-url RFC 9309 verdict against a rule dimension: most
    specific (longest) matching pattern wins, Allow wins length ties
    (Google semantics), no match → allowed.

    Plan: broadcast the rule dim (robots corpora are tiny next to url
    universes), rlike in codegen, one partial-agg max(struct) per url
    — never a window, never a regex recompile Python-side. At 10^12
    urls the only corpus-scale operation is the broadcast-join scan.
    """
    keys = list(key_cols)
    j = urls.join(F.broadcast(rules), keys, "left")
    matched = j.filter(F.expr("path rlike _rx")).groupBy(
        *keys, "path"
    ).agg(
        F.max(F.struct(
            F.col("specificity"),
            F.col("allow").cast("int").alias("_a"),
        )).alias("_w")
    ).select(
        *keys, "path",
        F.col("_w._a").alias("allowed"),
        F.col("_w.specificity").alias("spec"),
    )
    return (
        urls.join(matched, keys + ["path"], "left")
        .select(
            *keys, "path",
            F.coalesce("allowed", F.lit(1)).cast("int").alias("allowed"),
            F.coalesce("spec", F.lit(0)).cast("bigint").alias("spec"),
        )
    )


def clean_param_rules(robots: DataFrame) -> DataFrame:
    """``Clean-param`` directive extraction (the Yandex robots.txt
    extension — the only ROBOTS-DECLARED channel for "these query
    parameters don't change content"): ``(host, param, path_prefix)``
    — one row per declared parameter, with the optional path scope
    ('' = whole site). Directive microsyntax:
    ``Clean-param: p1&p2 /path``.

    This is the PUBLISHER-declared third leg of parameter hygiene,
    beside the static tracking blocklist (q80) and the data-driven
    significance miner (q280): a frontier canonicalizer merges all
    three into its strip-list. Same per-line codegen regime as the
    Disallow/Crawl-delay parsers in this module; explode is
    directive-sized."""
    line = F.col("_l")
    rows = robots.select(
        F.col("host"),
        F.explode(F.split(F.col("robots_txt"), "\n")).alias("_l"),
    ).filter(F.trim(line).rlike(r"(?i)^clean-param\s*:"))
    body = F.trim(F.regexp_extract(line, r"(?i)^\s*clean-param\s*:(.*)$", 1))
    params = F.split(F.regexp_extract(body, r"^(\S+)", 1), "&")
    prefix = F.regexp_extract(body, r"^\S+\s+(\S+)", 1)
    return rows.select(
        "host",
        F.explode(params).alias("param"),
        prefix.alias("path_prefix"),
    ).filter(F.col("param") != "")


def robots_policy_drift(old: DataFrame, new: DataFrame) -> DataFrame:
    """ROBOTS-POLICY drift between two snapshots: per host —
    ``(host, n_added, n_removed, tightened, loosened)`` over the
    Disallow rule sets (a rule ADDED tightens policy: previously
    crawlable URL space closed; a rule REMOVED loosens it). The
    operational trigger relation: tightened hosts need frontier
    re-filtering and possibly RTBF-style retro-exclusion (q304);
    loosened hosts unlock URL space for the next crawl tick. Rule
    extraction reuses this module's per-line codegen regime; the
    diff is two host-keyed left-anti joins + one partial-agg rollup
    — no windows, and both sides are host-bucketed at fleet scale.
    """
    def rules(df):
        line = F.col("_l")
        return df.select(
            F.col("host"),
            F.explode(F.split(F.col("robots_txt"), "\n")).alias("_l"),
        ).filter(
            F.trim(line).rlike(r"(?i)^disallow\s*:")
        ).select(
            "host",
            F.trim(
                F.regexp_extract(line, r"(?i)^\s*disallow\s*:(.*)$", 1)
            ).alias("rule"),
        ).filter(F.col("rule") != "").distinct()

    r_old, r_new = rules(old), rules(new)
    added = r_new.join(r_old, ["host", "rule"], "left_anti") \
        .groupBy("host").agg(F.count("*").cast("int").alias("n_added"))
    removed = r_old.join(r_new, ["host", "rule"], "left_anti") \
        .groupBy("host").agg(F.count("*").cast("int").alias("n_removed"))
    hosts = old.select(F.col("host")).unionByName(
        new.select(F.col("host"))
    ).distinct()
    return (
        hosts.join(added, "host", "left")
        .join(removed, "host", "left")
        .select(
            "host",
            F.coalesce("n_added", F.lit(0)).cast("int").alias("n_added"),
            F.coalesce("n_removed", F.lit(0)).cast("int")
            .alias("n_removed"),
            F.when(F.coalesce("n_added", F.lit(0)) > 0, 1).otherwise(0)
            .cast("int").alias("tightened"),
            F.when(F.coalesce("n_removed", F.lit(0)) > 0, 1).otherwise(0)
            .cast("int").alias("loosened"),
        )
    )
