"""Domain-blocklist filtering (UT1/adult-blocklist-style curation).

Standard web-corpus curation step (used by CCNet/RefinedWeb-class
pipelines): drop documents whose host matches a blocklist of registered
domains, where a list entry blocks the domain AND every subdomain
(``example.com`` blocks ``cdn.example.com``). The reference has no
blocklist layer; its closest analogue is the robots Disallow filtering
(sources/robots.py).

Scale shape — the suffix-match problem is turned into an EQUI-join:
each host explodes into its ≤ ~6 parent-domain suffixes
(``a.b.example.com`` → [a.b.example.com, b.example.com, example.com,
com]) which equi-join against the broadcast blocklist. Never a
``LIKE``-predicate nested-loop join: at 10^12 rows × 10^6 blocklist
entries only hash joins survive. Suffix explosion is bounded by DNS
label depth, the blocklist side is broadcast (UT1 is ~4M entries,
megabytes), and the per-doc aggregation after the join is a groupBy on
the already-partitioned doc key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def host_suffixes(host_col):
    """All dot-suffixes of a hostname, most-specific first, as an array
    column — pure codegen (split/transform/slice), no UDF."""
    parts = F.split(host_col, r"\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(parts, i, n), "."),
    )


def domain_block_flags(docs: DataFrame, blocklist: DataFrame) -> DataFrame:
    """(id, host, blocked, matched_entry) for every input row.

    ``matched_entry`` is the lexicographically-first matching blocklist
    entry (deterministic under any join order), NULL when unblocked.
    """
    sufs = docs.select(
        F.col("doc_id"),
        F.col("host"),
        F.explode(host_suffixes(F.col("host"))).alias("_suf"),
    )
    hits = (
        sufs.join(
            F.broadcast(
                blocklist.select(F.col("entry").alias("_suf")).distinct()
            ),
            "_suf",
        )
        .groupBy("doc_id")
        .agg(F.min("_suf").alias("matched_entry"))
    )
    return (
        docs.select("doc_id", "host")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "host",
            F.col("matched_entry").isNotNull().alias("blocked"),
            "matched_entry",
        )
    )


# ---------------------------------------------------------------------------
# token-level word blocklist (C4 / LDNOOBW discipline)
# ---------------------------------------------------------------------------

# A small, deterministic stand-in for the published "List of Dirty,
# Naughty, Obscene and Otherwise Bad Words" (C4, Raffel et al. 2020 §2.2
# uses the LDNOOBW list): web-spam markers chosen to be printable in any
# report. Callers pass their own list at production scale; the constant
# exists so queries and oracles share one literal spec.
SPAM_WORDS = (
    "casino", "viagra", "lottery", "jackpot", "betting",
    "pills", "crypto-giveaway", "xxx",
)


def badword_stats(
    docs: DataFrame,
    words: tuple[str, ...] = SPAM_WORDS,
) -> DataFrame:
    """(id, n_tokens, n_bad, bad_per_mtoken, blocked) — C4's word-level
    blocklist gate: a document is dropped when ANY token (lowercased,
    whitespace-split) appears on the blocklist; the density column keeps
    the signal inspectable for threshold tuning instead of a bare flag.

    Scale shape: the token stream never joins a table — the blocklist is
    a compile-time literal folded into a codegen ``IN`` predicate, so the
    whole operator is one explode + one partial-aggregated groupBy on the
    doc key (map-side combine; no second shuffle, no broadcast needed at
    any corpus size). ``bad_per_mtoken`` is integer micros (exact,
    engine-portable). For million-entry production lists swap the IN
    predicate for a broadcast equi-join on the token column — the
    domain_block_flags shape above.
    """
    toks = docs.select(
        F.col("doc_id"),
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), " ", -1),
                     lambda w: F.length(w) > 0)
        ).alias("w"),
    )
    agg = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("w").isin(*words), 1).otherwise(0)).alias("n_bad"),
    )
    return agg.select(
        F.col("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_bad").cast("long").alias("n_bad"),
        F.expr("n_bad * 1000000L div n_tokens").alias("bad_per_mtoken"),
        (F.col("n_bad") > 0).alias("blocked"),
    )


# ---------------------------------------------------------------------------
# IP/CIDR blocklist (the network-layer sibling of the domain suffixes)
# ---------------------------------------------------------------------------

def ip_to_int(ip_col):
    """Dotted-quad string → 32-bit integer, pure codegen (split + 4
    casts) — no UDF, identical arithmetic in any engine."""
    o = F.split(ip_col, r"\.")
    return (
        F.element_at(o, 1).cast("long") * 16_777_216
        + F.element_at(o, 2).cast("long") * 65_536
        + F.element_at(o, 3).cast("long") * 256
        + F.element_at(o, 4).cast("long")
    )


def cidr_block_flags(
    docs: DataFrame,
    cidrs: DataFrame,
    prefix_lens: tuple[int, ...] = (8, 12, 16, 20, 24, 32),
) -> DataFrame:
    """(id, ip, blocked, matched_cidr) — CIDR blocklist matching (server
    farms and bulletproof hosters are blocked by network range, not
    hostname; the network-layer sibling of domain_block_flags).

    The containment test ``ip ∈ a.b.c.d/p`` ⟺ ``ip >> (32-p) ==
    base >> (32-p)`` becomes an EQUI-join: every IP explodes into one
    (prefix_len, ip_prefix) row per length in ``prefix_lens`` (the
    lengths the blocklist actually uses — bounded ≤ 33, typically ~6),
    equi-joined against the broadcast (prefix_len, base_prefix) dim.
    Same discipline as host_suffixes: a bounded explode buys a hash
    join; a LIKE/range predicate at 10^12 × 10^6 would be a nested
    loop. ``matched_cidr`` = lexicographically-first match
    (deterministic under any join order), NULL when unblocked. CIDRs
    whose prefix length is absent from ``prefix_lens`` raise — silent
    non-matching would be a blocklist hole.
    """
    c = cidrs.select(
        F.col("cidr").alias("_cidr"),
        F.split(F.col("cidr"), "/").alias("_p"),
    ).select(
        "_cidr",
        ip_to_int(F.element_at("_p", 1)).alias("_base"),
        F.element_at("_p", 2).cast("int").alias("_plen"),
    )
    bad = c.filter(~F.col("_plen").isin(*prefix_lens))
    # per-length prefix of the base, computed once on the tiny dim side
    cdim = c.select(
        "_cidr",
        "_plen",
        F.expr("shiftright(_base, 32 - _plen)").alias("_pref"),
    )
    probes = docs.select(
        F.col("doc_id"),
        F.col("ip"),
        ip_to_int(F.col("ip")).alias("_ip"),
    ).select(
        "doc_id",
        "ip",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("_plen"),
                        F.shiftright(F.col("_ip"), 32 - p).alias("_pref"),
                    )
                    for p in prefix_lens
                ]
            )
        ).alias("_e"),
    ).select("doc_id", "ip", "_e._plen", "_e._pref")
    hits = (
        probes.join(F.broadcast(cdim), ["_plen", "_pref"])
        .groupBy("doc_id")
        .agg(F.min("_cidr").alias("matched_cidr"))
    )
    out = (
        docs.select("doc_id", "ip")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "ip",
            F.col("matched_cidr").isNotNull().alias("blocked"),
            "matched_cidr",
        )
    )
    # fail loudly on unmatched prefix lengths (a silent hole otherwise);
    # the dim is broadcast-small so this count is free
    if bad.limit(1).count() > 0:
        lens = [r["_plen"] for r in bad.select("_plen").distinct().collect()]
        raise ValueError(
            f"cidr prefix lengths {sorted(lens)} not in prefix_lens="
            f"{prefix_lens}"
        )
    return out


def outlink_spam_ratio(links: DataFrame, blocklist: DataFrame) -> DataFrame:
    """(id, n_outlinks, n_blocked, blocked_ppm): per-page fraction of
    external-link targets whose host hits the domain blocklist — a
    standard spam/adult-adjacency signal (a clean page linking mostly
    at blocked domains is itself suspect; SpamRank-family heuristics
    and UT1-based curation both use it).

    Input is the exploded link inventory (id, target_host), one row
    per outlink — multiplicity COUNTS (5 links to one casino weigh 5).
    The verdict is computed per DISTINCT host, not per link: distinct
    hosts → bounded dot-suffix explode → broadcast semi-join →
    blocked-host dim, which links re-join on the host key. That is
    both cheaper (suffix explosion over |hosts|, not |links| — on a
    web graph links outnumber hosts ~1000×) and deterministic
    (multi-level suffix matches collapse in the distinct, no per-link
    identity needed). Then ONE partial-agg groupBy on the page key.
    """
    lk = links.select(F.col("doc_id"), F.col("target_host").alias("_h"))
    blocked_hosts = (
        lk.select("_h")
        .distinct()
        .select("_h", F.explode(host_suffixes(F.col("_h"))).alias("_suf"))
        .join(
            F.broadcast(
                blocklist.select(F.col("entry").alias("_suf")).distinct()
            ),
            "_suf",
            "left_semi",
        )
        .select("_h")
        .distinct()
        .withColumn("_b", F.lit(1))
    )
    per_link = lk.join(blocked_hosts, "_h", "left").select(
        "doc_id", F.coalesce("_b", F.lit(0)).alias("_b")
    )
    return per_link.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_outlinks"),
        F.sum("_b").cast("long").alias("n_blocked"),
        F.expr("sum(_b) * 1000000L div count(*)").alias("blocked_ppm"),
    )
