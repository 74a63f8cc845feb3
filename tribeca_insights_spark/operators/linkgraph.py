"""Link-graph operators: anchor-text aggregation and PageRank.

The reference has no graph layer (SURVEY §2.4 — its crawl frontier is a
flat visited set, crawler.py:190-215); these are the standard extensions a
web-scale crawl/curation pipeline runs on top of the extracted link
inventory: which pages the corpus points at (anchor-text aggregation — a
classic relevance/weak-supervision signal) and how link mass distributes
over hosts (PageRank — frontier prioritization, spam-domain demotion).

Everything is joins + aggregations — no GraphX, no driver-side graph, no
``collect()``. PageRank keeps ranks as INTEGER MICROS with floor division
at every step (the operators/dsir.py quantization trick), so iteration
results are aggregation-order independent and bit-identical across Spark
partitionings AND across engines — the DuckDB oracle unrolls the same
integer recurrence and matches exactly, something float PageRank cannot
guarantee under reordered partial sums.

Scale notes (100 TB): anchor aggregation is explode → partial-agg groupBy
on the target key (Zipf-skewed targets are absorbed by map-side combine
exactly like corpus TF, operators/tf.py:61). PageRank iterations are
shuffle-join + groupBy per round on the edge table; at 10^12 edges you'd
pre-bucket edges by ``src`` (DISK bucketing or a stable repartition) so
every round reuses one partitioning, and checkpoint ranks every few
rounds to truncate lineage — both noted inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..htmlx.anchors import extract_anchors, extract_anchors_rel
from .extract import html_udf

_PAIR = ArrayType(
    StructType(
        [
            StructField("href", StringType()),
            StructField("anchor", StringType()),
        ]
    )
)


def resolve_href(url_col, href_col):
    """Resolve an href against its page url — the two shapes the fixture
    corpus (and the overwhelming share of real pages) uses, entirely in
    codegen'd expressions: absolute http(s) hrefs pass through;
    root-relative ``/path`` concatenates scheme://host (the urljoin fast
    path proven in htmlx/extractor.internal_links); everything else
    (fragments, mailto:, protocol-relative) → NULL."""
    scheme_host = F.regexp_extract(url_col, r"^(https?://[^/]+)", 1)
    return (
        F.when(href_col.rlike(r"^https?://"), href_col)
        .when(
            href_col.rlike(r"^/($|[^/])"),
            F.concat(scheme_host, href_col),
        )
        .otherwise(F.lit(None).cast("string"))
    )


def anchor_pairs(docs: DataFrame) -> DataFrame:
    """(url, target, anchor) — one row per resolvable link in the corpus.

    Arrow-batched parse (one pass per page, same batching regime as
    operators/extract.py) → explode → native resolution expressions.
    """
    pairs = docs.select(
        F.col("url"),
        F.explode(html_udf(docs, extract_anchors, _PAIR)).alias("p"),
    )
    return pairs.select(
        "url",
        resolve_href(F.col("url"), F.col("p.href")).alias("target"),
        F.col("p.anchor").alias("anchor"),
    ).where(F.col("target").isNotNull())


def anchor_text_stats(pairs: DataFrame) -> DataFrame:
    """Per-target anchor profile: how many pages reference the target and
    with what text.

    Two-stage on purpose: stage 1 counts (target, anchor) PAIRS — a pure
    ``count`` buffer, so it stays on HashAggregate with map-side combine
    (``min(string)`` in a single-stage agg drops the WHOLE exploded
    stream onto SortAggregate: variable-width buffers don't hash-agg).
    Stage 2's ``min(anchor)``/sum/count then run over the already-distinct
    pair set — orders of magnitude smaller than the raw link stream, and
    skewed mega-targets (every page's nav link) were absorbed by stage
    1's combine."""
    per_pair = pairs.groupBy("target", "anchor").agg(
        F.count("*").alias("cnt")
    )
    return per_pair.groupBy("target").agg(
        F.sum("cnt").cast("long").alias("n_refs"),
        F.count("*").cast("long").alias("n_distinct_anchors"),
        F.min("anchor").alias("first_anchor"),
    )


def pagerank_micros(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    damping_pct: int = 85,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Integer-exact PageRank over an edge list → (node, rank_micros).

    Rank is held SCALED: ``s = rank * N`` in micros, so the uniform start
    is ``s0 = 1_000_000`` regardless of graph size and no count() is
    needed on the standard path. Per iteration (all integer, all
    nonnegative, so floor division ≡ truncation on every engine)::

        contrib(v) = Σ_{u→v}  s(u) div outdeg(u)
        s'(v)      = (100 - d) * 10_000  +  (d * contrib(v)) div 100

    Multi-edges count with multiplicity on both the outdeg and contrib
    sides (consistent). Nodes = src ∪ dst; sinks (no out-edges)
    contribute nothing unless ``redistribute_dangling``, which adds the
    classic ``d * Σ s(sink) div (100*N)`` uniform term (one extra 1-row
    aggregate + broadcast per round).

    ``n_iter`` is a FIXED unroll (the oracle states the same recurrence);
    for convergence-driven runs wrap it in the operators/dedup.py
    connected-components loop discipline: fold the convergence probe into
    the round's aggregation, one action per round. At 10^12 edges,
    pre-bucket ``edges`` by src so each round's join reuses one shuffle,
    and ``localCheckpoint`` ranks every ~5 rounds to truncate lineage.
    """
    if n_iter < 0:
        raise ValueError("n_iter must be >= 0")
    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    # one shuffle partitioning reused every round (src-keyed)
    ed = e.join(outdeg, "src")
    base = (100 - damping_pct) * 10_000
    ranks = nodes.select("node", F.lit(1_000_000).cast("long").alias("s"))
    for _ in range(n_iter):
        contrib = (
            ed.join(
                ranks.select(F.col("node").alias("src"), "s"), "src"
            )
            .groupBy("dst")
            .agg(
                F.sum(F.expr("s div outdeg")).alias("contrib")
            )
        )
        new = nodes.join(
            contrib, nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (
                F.lit(base)
                + F.expr(
                    f"({damping_pct} * coalesce(contrib, 0L)) div 100"
                )
            ).cast("long").alias("s"),
        )
        if redistribute_dangling:
            sinks = ranks.join(
                outdeg.select(F.col("src").alias("node")),
                "node",
                "left_anti",
            ).agg(F.coalesce(F.sum("s"), F.lit(0)).alias("dmass"))
            n_row = nodes.agg(F.count("*").alias("n_nodes"))
            new = (
                new.crossJoin(F.broadcast(sinks))
                .crossJoin(F.broadcast(n_row))
                .select(
                    "node",
                    (
                        F.col("s")
                        + F.expr(
                            f"({damping_pct} * dmass) div (100 * n_nodes)"
                        )
                    ).cast("long").alias("s"),
                )
            )
        ranks = new
    return ranks.select("node", F.col("s").alias("rank_micros"))


def hits_micros(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 2,
    materialize: bool = False,
) -> DataFrame:
    """Integer-exact HITS (Kleinberg 1999) over an edge list →
    (node, auth_micros, hub_micros).

    Per iteration (the classic mutual recursion, max-normalized)::

        auth_raw(v) = Σ_{u→v} hub(u)
        auth(v)     = (auth_raw(v) * 1_000_000) div max_v auth_raw
        hub_raw(u)  = Σ_{u→v} auth(v)
        hub(u)      = (hub_raw(u) * 1_000_000)  div max_u hub_raw

    Everything is BIGINT with floor division, so partial-sum order can
    never perturb the result — max-normalization (not L2) is chosen
    precisely because max and integer sums are aggregation-order
    independent, making the fixed-unroll recurrence bit-identical
    across Spark partitionings and across engines (the DuckDB oracle
    unrolls the same arithmetic). Multi-edges count with multiplicity
    on both sides, mirroring ``pagerank_micros``.

    Plan shape: two groupBy aggregations per round (dst-keyed for
    authority, src-keyed for hub) over the edge table, each 1-row max
    broadcast back — no window, no global sort, no driver-side graph.
    Each half-round's node-sized ``raw`` frame is ``persist()``-ed
    because TWO consumers reference it (the 1-row max and the score
    join); without the cache the alternating recursion re-evaluates
    every upstream half twice, exponentially (measured 50.7 s → 2 s at
    sf0.01 for n_iter=2). ``materialize=True`` eagerly checkpoints the
    result and unpersists every cached frame (the ``bfs_min_dist``
    cache-lifetime discipline, ADVICE r3); the default stays lazy and
    leaves cleanup to the caller's session lifetime.

    At 10^12 edges keep TWO bucketed copies of the edge table (one by
    src, one by dst) so both per-round joins reuse a fixed
    partitioning, and swap persist → ``localCheckpoint`` every ~5
    rounds to truncate lineage. Overflow headroom: raw ≤ N·1e6 and the
    normalize multiplies by 1e6, so BIGINT holds to N ≈ 9·10^6 nodes
    per connected region; above that swap the normalize to
    DECIMAL(38,0) (same plan shape).
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    cached = [nodes]
    hub = nodes.select("node", F.lit(1_000_000).cast("long").alias("score"))
    auth = None

    def _half(scores: DataFrame, join_key: str, group_key: str) -> DataFrame:
        raw = (
            e.join(scores.select(F.col("node").alias(join_key), "score"),
                   join_key)
            .groupBy(group_key)
            .agg(F.sum("score").alias("raw"))
            .persist()
        )
        cached.append(raw)
        mx = raw.agg(
            F.greatest(F.max("raw"), F.lit(1)).cast("long").alias("mx")
        )
        return (
            nodes.join(raw, nodes["node"] == raw[group_key], "left")
            .crossJoin(F.broadcast(mx))
            .select(
                "node",
                F.expr("(coalesce(raw, 0L) * 1000000L) div mx")
                .cast("long")
                .alias("score"),
            )
        )

    for _ in range(n_iter):
        auth = _half(hub, "src", "dst")
        hub = _half(auth, "dst", "src")
    out = (
        auth.select("node", F.col("score").alias("auth_micros"))
        .join(hub.select("node", F.col("score").alias("hub_micros")),
              "node")
    )
    if materialize:
        out = out.localCheckpoint(eager=True)
        for c in cached:
            c.unpersist()
    return out


def bfs_min_dist(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    materialize: bool = False,
) -> DataFrame:
    """Multi-source BFS over an edge list → (node, dist): minimum hop
    distance from any seed, out to ``k`` hops (frontier expansion — the
    crawl-planning query behind "everything within k clicks of the seed
    list", and the joins-only sibling of the reference's flat visited-set
    frontier, crawler.py:190-215).

    Level-synchronous and joins-only: each round joins the CURRENT
    frontier (not the whole visited set) against the edge table, then
    anti-joins the visited set so a node is emitted exactly once, at its
    first — hence minimum — depth. No ``collect()``, no driver-side
    graph, zero Spark actions inside the loop (``k`` is a fixed unroll;
    the result is one lazy plan). Each frontier is ``persist()``-ed so
    the k-deep plan evaluates every level once instead of recursively
    recomputing level i for every level j > i.

    Scale shape (10^12 edges): the per-round join is src-keyed — bucket
    or pre-repartition ``edges`` by ``src`` once and every round reuses
    that single partitioning; the anti-join is frontier-sized on the
    probe side. For large k, ``localCheckpoint`` the visited union every
    ~5 levels to truncate lineage (same discipline as
    ``pagerank_micros`` / dedup.connected_components).

    Cache lifetime (ADVICE r3): ``materialize=True`` eagerly
    ``localCheckpoint``-s the result (one job; result is frontier-sized,
    not corpus-sized) and unpersists every cached level before
    returning — repeated calls in one application then leak nothing.
    The default stays lazy (one inspectable plan, zero actions) and
    leaves the level caches to the CALLER's lifetime management: after
    materializing the result, unpersist via
    ``spark.catalog.clearCache()`` or re-call with ``materialize=True``.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    level0 = (
        seeds.select(F.col(node).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("int").alias("dist"))
        .persist()
    )
    levels = [level0]
    visited = level0.select("node")
    frontier = level0
    for depth in range(1, k + 1):
        nxt = (
            e.join(
                frontier.select(F.col("node").alias("src")), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(depth).cast("int").alias("dist"))
            .persist()
        )
        levels.append(nxt)
        visited = visited.union(nxt.select("node"))
        frontier = nxt
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    if materialize:
        out = out.localCheckpoint(eager=True)
        for lv in levels:
            lv.unpersist()
    return out


def triangle_counts(edges: DataFrame,
                    src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle participation counts over the UNDIRECTED
    simple graph induced by ``edges`` — (node, n_triangles), nodes in
    at least one triangle.

    Reference has no graph analytics; beyond-reference capability for
    link-graph curation (triangle density separates organic link
    neighborhoods from spam farms — the classic TrustRank-era signal).

    Algorithm (Suri & Vassilvitskii WWW'11 / Cohen's MapReduce
    triangles): canonicalize to undirected distinct edges, then ORIENT
    every edge from its lower endpoint to its higher endpoint under the
    total order (degree, node). Each triangle then has exactly ONE
    wedge rooted at its lowest-order vertex, so

    - wedges are enumerated by self-joining oriented edges on the root
      (u→v, u→w with ord(v) < ord(w)),
    - a wedge is a triangle iff oriented edge (v, w) exists — one
      equi-join probe, and each triangle is found exactly once (no /3
      or /6 correction, no double counting).

    Scale shape (10^9-node host graph): orientation bounds the wedge
    count by sum(min_deg²-ish) — the degree-ordering trick keeps a
    celebrity node with degree 10^7 from generating 10^14 wedges,
    because ALL its edges point toward it (its out-degree under the
    order is ~0; wedges root only at low-degree endpoints). Every step
    is an equi-join or partial-agg groupBy; degrees are node-sized; no
    windows, no driver-side graph state.
    """
    und = (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # orient by (deg, node): u -> v iff (deg_u, u) < (deg_v, v)
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("degb"))
    withd = und.join(da, "a").join(db, "b")
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    ori = withd.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("degb")).otherwise(F.col("dega")).alias("degv"),
    )
    e1 = ori.select("u", F.col("v").alias("v1"), F.col("degv").alias("d1"))
    e2 = ori.select("u", F.col("v").alias("v2"), F.col("degv").alias("d2"))
    wedges = e1.join(e2, "u").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    closing = ori.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tris = wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2")
    return (
        tris.select(
            F.explode(F.array("u", "v1", "v2")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )


def label_propagation(edges: DataFrame, n_iter: int = 2,
                      src: str = "src", dst: str = "dst") -> DataFrame:
    """SYNCHRONOUS label-propagation community detection over the
    undirected graph — (node, label) after ``n_iter`` rounds, every
    node initialized to its own id.

    Update rule (deterministic — no random visit order): each round,
    every node adopts the label that is most frequent among its
    neighbors' PREVIOUS-round labels, ties broken by smallest label;
    isolated nodes keep their own. GraphX/GraphFrames LPA semantics,
    made replay-stable by the total tie-break.

    Plan shape per round (10^9-node host graph): edge⋈label equi-join
    on the neighbor endpoint, a (node, label) partial-agg count, and a
    per-node argmax as ``min(struct(-count, label))`` — an ordinary
    reusable HashAggregate, NO window and NO driver action in the
    loop. Labels persist per round to truncate lineage (unpersisted
    when superseded); synchronous updates also dodge the oscillation
    pathologies of async LPA on bipartite-ish link graphs — at corpus
    scale you run ~5 rounds and take the fixpoint-ish communities.
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    sym = (
        edges.filter(F.col(src) != F.col(dst))
        .select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionAll(
            edges.filter(F.col(src) != F.col(dst)).select(
                F.col(dst).alias("u"), F.col(src).alias("v")
            )
        )
        .distinct()
    )
    nodes = sym.select(F.col("u").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label")).persist()
    for _ in range(n_iter):
        neigh = sym.join(
            labels.select(F.col("node").alias("v"), "label"), "v"
        ).select(F.col("u").alias("node"), "label")
        best = (
            neigh.groupBy("node", "label")
            .agg(F.count("*").alias("cnt"))
            .groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"),
                             F.col("label").alias("lb"))
                ).alias("m")
            )
            .select("node", F.col("m.lb").alias("label"))
        )
        nxt = (
            nodes.join(best, "node", "left")
            .select(
                "node",
                F.coalesce("label", F.col("node")).alias("label"),
            )
            .persist()
        )
        labels.unpersist()
        labels = nxt
    return labels


def link_reciprocity(edges: DataFrame, src: str = "src",
                     dst: str = "dst") -> DataFrame:
    """Per-source link reciprocity over the DIRECTED simple graph:
    (node, n_out, n_recip, reciprocity_micros) — the fraction of a
    host's distinct out-links that link back.

    Organic link neighborhoods reciprocate (blogrolls, partner pages);
    link farms built for PageRank transfer are near-one-directional by
    construction, and paid-link networks near-fully-reciprocal — both
    tails of this score are curation signals (the classic webspam
    features of Becchetti et al. 2008).

    Shape: distinct directed edges LEFT-joined against their own
    reversal (one self-equi-join on the edge key — no adjacency
    materialization), then a src-keyed partial agg. Self-loops are
    excluded (trivially 'reciprocal').
    """
    e = (
        edges.filter(F.col(src) != F.col(dst))
        .select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
    )
    rev = e.select(F.col("v").alias("u"), F.col("u").alias("v"),
                   F.lit(1).alias("_back"))
    marked = e.join(rev, ["u", "v"], "left")
    agg = marked.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("n_out"),
        F.sum(F.coalesce("_back", F.lit(0))).cast("bigint")
        .alias("n_recip"),
    )
    return agg.withColumn(
        "reciprocity_micros",
        F.expr("n_recip * 1000000L div n_out"),
    )


def resource_allocation(edges: DataFrame, src: str = "src",
                        dst: str = "dst",
                        max_degree: int | None = None) -> DataFrame:
    """Resource-Allocation link prediction (Zhou, Lü & Zhang 2009):
    for every NON-adjacent pair (a, b) with at least one common
    neighbor, ``ra_micros = Σ_z 1_000_000 div deg(z)`` over common
    neighbors z — the integer-exact cousin of Adamic–Adar (1/deg
    instead of 1/log deg, so no float log enters the aggregate and the
    DuckDB oracle replays it bit-for-bit).

    Crawl-frontier use: predicted-but-missing host links rank "likely
    related sites" for seed expansion, and abnormally complete
    neighborhoods (few non-edges with high RA) flag link farms.

    Scale shape: the pair generator is a self-equi-join of the
    adjacency list ON THE COMMON NEIGHBOR — never an all-pairs cross
    join. Wedge count is Σ_z deg(z)², so celebrity hubs dominate cost;
    ``max_degree`` drops hubs from the WEDGE CENTER role only (the
    standard degree-cap: a z with 10^6 neighbors contributes ≤ 1 micro
    per pair anyway — its wedges cost O(10^12) and carry no signal).
    Existing edges are removed by one anti-join on the undirected edge
    key. All arithmetic BIGINT.
    """
    und = (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(src, dst).alias("a"),
            F.greatest(src, dst).alias("b"),
        )
        .distinct()
    )
    nbrs = und.select(
        F.col("a").alias("node"), F.col("b").alias("nb")
    ).unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("nb"))
    )
    deg = nbrs.groupBy("node").agg(
        F.count("*").cast("bigint").alias("deg")
    )
    center = nbrs.join(deg, "node")
    if max_degree is not None:
        center = center.filter(F.col("deg") <= max_degree)
    left = center.select(
        F.col("node").alias("z"), F.col("nb").alias("x"), "deg"
    )
    right = nbrs.select(
        F.col("node").alias("z"), F.col("nb").alias("y")
    )
    wedges = left.join(right, "z").filter(F.col("x") < F.col("y"))
    scored = wedges.groupBy(
        F.col("x").alias("a"), F.col("y").alias("b")
    ).agg(
        F.sum(F.expr("1000000L div deg")).cast("bigint")
        .alias("ra_micros"),
        F.count("*").cast("bigint").alias("n_common"),
    )
    return scored.join(und, ["a", "b"], "left_anti")


def degree_assortativity(edges: DataFrame, src: str = "src",
                         dst: str = "dst") -> DataFrame:
    """Degree assortativity of the undirected simple graph: the
    Pearson correlation of endpoint degrees over the edge list
    (Newman 2002) — organic web neighborhoods are mildly
    disassortative (hubs link to leaves); link farms built from
    interlinked high-degree cores show up strongly assortative, and a
    shift in this ONE number between crawls flags structural spam
    growth before any per-page signal fires.

    Computed from exact BIGINT sufficient statistics over the
    symmetric edge orientation (each undirected edge contributes both
    (deg u, deg v) and (deg v, deg u), the standard convention):
    m, Σx, Σxy, Σx² — y-sums equal x-sums by symmetry. Only the final
    r = (m·Σxy − Σx·Σy) / (m·Σx² − (Σx)²) runs in double, one
    canonical expression micro-quantized (the q138 grouped-OLS
    discipline — bit-stable where float covariance accumulation is
    not). Returns one row (m_directed, sum_x, sum_xy, sum_x2,
    assortativity_micros); degenerate (all-equal-degree) graphs get
    NULL.

    Shape: degree table = one groupBy; two id-keyed joins decorate the
    edge list; one single-row aggregate. No windows, no all-pairs.
    """
    und = (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(src, dst).alias("a"),
            F.greatest(src, dst).alias("b"),
        )
        .distinct()
    )
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count("*").cast("bigint").alias("deg")
    )
    dx = deg.select(F.col("node").alias("a"),
                    F.col("deg").alias("_x"))
    dy = deg.select(F.col("node").alias("b"),
                    F.col("deg").alias("_y"))
    pairs = sym.join(dx, "a").join(dy, "b")
    agg = pairs.agg(
        F.count("*").cast("bigint").alias("m_directed"),
        F.sum("_x").cast("bigint").alias("sum_x"),
        F.sum(F.col("_x") * F.col("_y")).cast("bigint").alias("sum_xy"),
        F.sum(F.col("_x") * F.col("_x")).cast("bigint").alias("sum_x2"),
    )
    return agg.select(
        "m_directed", "sum_x", "sum_xy", "sum_x2",
        F.expr(
            "CAST(CASE WHEN m_directed * sum_x2 - sum_x * sum_x > 0"
            " THEN floor(1e6 *"
            "  (CAST(m_directed AS DOUBLE) * CAST(sum_xy AS DOUBLE)"
            "   - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))"
            "  / (CAST(m_directed AS DOUBLE) * CAST(sum_x2 AS DOUBLE)"
            "   - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE)))"
            " END AS BIGINT)"
        ).alias("assortativity_micros"),
    )


def trustrank_micros(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Integer-exact TrustRank (Gyöngyi et al., VLDB'04) → (node,
    trust_micros): PageRank whose teleport is restricted to a TRUSTED
    seed set, so trust flows outward along links and spam farms —
    heavily linked but unreachable from any trusted page — starve. The
    operational spam signal is the DEFICIT vs ordinary PageRank
    ("spam mass", q204 composes both).

    Scale is ``s = rank · 1e6 · N`` (pagerank_micros' units, so the two
    are directly comparable): teleport adds ``(100-d)·10_000·N div S``
    to each seed per round (N, S = two group-sized counts, broadcast as
    1-row scalars — the only aggregates beyond the per-round join+sum).
    All arithmetic integer floor-division, engine-portable; seeds start
    at ``1e6·N div S``, non-seeds at 0. Fixed unroll like
    pagerank_micros; same per-round join shape (src-keyed shuffle
    reused).
    """
    if n_iter < 0:
        raise ValueError("n_iter must be >= 0")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    sd = seeds.select(F.col("node")).distinct()
    scal = nodes.agg(F.count("*").alias("_N")).crossJoin(
        sd.agg(F.count("*").alias("_S"))
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    ed = e.join(outdeg, "src")
    marked = nodes.join(
        sd.withColumn("_is_seed", F.lit(1)), "node", "left"
    ).select("node", F.coalesce("_is_seed", F.lit(0)).alias("_is_seed"))
    base = (100 - damping_pct) * 10_000
    ranks = (
        marked.crossJoin(F.broadcast(scal))
        .select(
            "node",
            "_is_seed",
            F.expr(f"CAST(_is_seed * (1000000L * _N div _S) AS LONG)")
            .alias("s"),
            F.expr(f"CAST(_is_seed * ({base}L * _N div _S) AS LONG)")
            .alias("_tp"),
        )
    )
    for _ in range(n_iter):
        contrib = (
            ed.join(ranks.select(F.col("node").alias("src"), "s"), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("s div outdeg")).alias("contrib"))
        )
        ranks = (
            ranks.select("node", "_is_seed", "_tp")
            .join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                "_is_seed",
                "_tp",
                (
                    F.col("_tp")
                    + F.expr(
                        f"{damping_pct}L * coalesce(contrib, 0L) div 100"
                    )
                ).cast("long").alias("s"),
            )
        )
    return ranks.select("node", F.col("s").alias("trust_micros"))


def kcore_bounded(
    edges: DataFrame,
    k: int = 2,
    n_rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded-round k-core peeling over the UNDIRECTED graph → (node,
    degree) for nodes surviving ``n_rounds`` of "drop everything with
    degree < k". The k-core is where organic community structure lives;
    spam constellations and orphan pages shed in the first rounds
    (Seidman 1983; bounded unroll = the q189/q204 oracle discipline —
    full convergence wraps this in the connected-components loop with a
    fold-in convergence probe, one action per round).

    Each round: symmetrized degree count (one groupBy) + two semi-joins
    restricting edges to surviving endpoints. Self-loops count once;
    parallel edges count with multiplicity (stated; the oracle replays
    both choices).
    """
    if k < 1 or n_rounds < 0:
        raise ValueError("k >= 1, n_rounds >= 0 required")
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = und.unionByName(
        und.filter(F.col("a") != F.col("b")).select(
            F.col("b").alias("a"), F.col("a").alias("b")
        )
    )
    cur = sym
    for _ in range(max(1, n_rounds)):
        # each round's edge set feeds THREE consumers (degree count +
        # both semi-joins) and the next round repeats that — without
        # materialization the lineage recomputes 2^rounds times
        # (measured 230 s → 3 s at sf0.001). localCheckpoint eagerly
        # truncates, the connected-components round discipline
        # (dedup.py:364).
        cur = cur.localCheckpoint(eager=True)
        deg = cur.groupBy("a").agg(F.count("*").alias("degree"))
        keep = deg.filter(F.col("degree") >= k).select("a")
        cur = (
            cur.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
        )
    final = cur.groupBy("a").agg(F.count("*").alias("degree"))
    return final.select(
        F.col("a").alias("node"),
        F.col("degree").cast("long").alias("degree"),
    )


# ---------------------------------------------------------------------------
# HyperBall — neighborhood-size estimation (Boldi & Vigna, WSDM'11)
# ---------------------------------------------------------------------------

def hyperball_registers(
    edges: DataFrame,
    nodes: DataFrame,
    radius: int = 2,
    p: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, register, max_rho): per-node HLL sketch of the OUT-ball
    ``{u : dist(node→u) ≤ radius}`` — HyperBall (Boldi & Vigna,
    WSDM'11), the algorithm behind web-graph distance distributions
    (used for the "degrees of separation" measurements on graphs with
    10^9+ nodes).

    Each node seeds a sketch of ``{itself}`` (same md5-derived hash +
    register/rho bit-math as :mod:`operators.sketches` — exact integer
    arithmetic, engine-replayable). One round merges every node's
    sketch with its out-neighbors' sketches; because HLL union is
    element-wise register max, the merge is a plain equi-join on the
    edge key + groupBy(node, register) max — after round t the sketch
    covers exactly the distance-≤t ball (proved against exact BFS
    membership in tests/test_hyperball.py).

    Scale shape: state is ≤ m = 2^p rows per node (m=16 at p=4 — the
    whole point vs materializing balls, which are corpus-sized at
    radius 2 on a web graph); each round is ONE shuffle join keyed on
    ``dst`` + a map-combined groupBy. Per-round ``localCheckpoint``
    truncates the 2^radius lineage blow-up (the q205 k-core lesson).
    At 10^12 edges, pre-bucket edges by ``dst`` so every round reuses
    one partitioning.
    """
    if radius < 0:
        raise ValueError("radius must be >= 0")
    width = 64 - p
    div = 1 << (32 - p)

    hx = F.md5(F.col("node").cast("string"))
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    rem = (hi % F.lit(div)) * F.lit(1 << 32) + lo
    bits = sum((rem >= F.lit(1 << i)).cast("int") for i in range(width))
    sk = nodes.select(
        "node",
        F.floor(hi / F.lit(div)).cast("long").alias("register"),
        (F.lit(width) - bits + 1).cast("long").alias("max_rho"),
    )
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    for _ in range(radius):
        contrib = e.join(sk, e["_d"] == sk["node"]).select(
            F.col("_s").alias("node"), "register", "max_rho"
        )
        sk = (
            sk.unionByName(contrib)
            .groupBy("node", "register")
            .agg(F.max("max_rho").alias("max_rho"))
            .localCheckpoint(eager=False)
        )
    return sk


def hyperball_estimates(
    edges: DataFrame,
    nodes: DataFrame,
    radius: int = 2,
    p: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, n_registers_hit, harmonic_hi, harmonic_lo,
    ball_estimate_micros): raw per-node HLL estimate of the out-ball
    size at ``radius`` — the per-node reduction of
    :func:`hyperball_registers` using sketches.hll_estimate's exact
    split-BIGINT harmonic sum (hi = Σ 2^(29−rho) for rho ≤ 29, lo =
    Σ 2^(61−rho) for rho ≥ 30; empty registers enter only in the one
    final IEEE division, micro-quantized). Estimates are monotone
    non-decreasing in radius (register sets only grow — pinned in
    tests). Raw estimate, no small-range correction, stated as such:
    at real web-graph ball sizes (10^5-10^9) raw HLL is the operating
    regime; the sandbox's tiny balls exercise exactness, not accuracy.
    """
    sk = hyperball_registers(edges, nodes, radius=radius, p=p,
                             src=src, dst=dst)
    return _ball_estimates(sk, p)


def _ball_estimates(sk: DataFrame, p: int) -> DataFrame:
    """Per-node raw HLL estimate from a (node, register, max_rho)
    sketch table — the shared reduction under hyperball_estimates and
    neighborhood_function."""
    from .sketches import _hll_reduce

    return _hll_reduce(sk, p, ("node",), "ball_estimate_micros")


def neighborhood_function(
    edges: DataFrame,
    nodes: DataFrame,
    max_radius: int = 2,
    p: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(radius, n_nodes, pairs_estimate_micros, pct_of_max_ppm): the
    graph's neighborhood function N(t) = Σ_v |ball(v, t)| for t =
    0..max_radius — the distance-distribution quantity HyperBall was
    built for (Boldi & Vigna WSDM'11: effective-diameter and
    degrees-of-separation measurements read N(t) off directly).

    Runs the register merge loop ONCE, reducing the sketch table to a
    1-row (sum of per-node floor estimates — exact BIGINT arithmetic
    after the per-node micro-quantization) at every radius, so the
    cost is the same t rounds as :func:`hyperball_registers` plus t
    map-combined aggregations. ``pct_of_max_ppm`` normalizes by
    N(max_radius) — read the effective diameter d_x as the first
    radius where pct ≥ x (exactly how the paper interpolates, minus
    the float interpolation). No per-t recompute, no corpus-sized
    state: ≤ m rows per node throughout.
    """
    if max_radius < 0:
        raise ValueError("max_radius must be >= 0")
    width = 64 - p
    div = 1 << (32 - p)

    hx = F.md5(F.col("node").cast("string"))
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    rem = (hi % F.lit(div)) * F.lit(1 << 32) + lo
    bits = sum((rem >= F.lit(1 << i)).cast("int") for i in range(width))
    sk = nodes.select(
        "node",
        F.floor(hi / F.lit(div)).cast("long").alias("register"),
        (F.lit(width) - bits + 1).cast("long").alias("max_rho"),
    )
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))

    def _level(sk_t: DataFrame, t: int) -> DataFrame:
        return _ball_estimates(sk_t, p).agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("ball_estimate_micros").alias("pairs_estimate_micros"),
        ).select(F.lit(t).cast("long").alias("radius"), "n_nodes",
                 "pairs_estimate_micros")

    levels = _level(sk, 0)
    for t in range(1, max_radius + 1):
        contrib = e.join(sk, e["_d"] == sk["node"]).select(
            F.col("_s").alias("node"), "register", "max_rho"
        )
        sk = (
            sk.unionByName(contrib)
            .groupBy("node", "register")
            .agg(F.max("max_rho").alias("max_rho"))
            .localCheckpoint(eager=False)
        )
        levels = levels.unionByName(_level(sk, t))
    last = levels.filter(F.col("radius") == max_radius).select(
        F.col("pairs_estimate_micros").alias("_nmax")
    )
    return levels.crossJoin(F.broadcast(last)).select(
        "radius",
        "n_nodes",
        "pairs_estimate_micros",
        F.expr("pairs_estimate_micros * 1000000L div _nmax").alias(
            "pct_of_max_ppm"
        ),
    )


def harmonic_centrality_r2(
    edges: DataFrame,
    nodes: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """EXACT radius-2 out-harmonic centrality per node:
    ``h = |N1(v)| + |N2(v)|/2`` where N1 is the distinct 1-hop
    out-neighborhood (minus v) and N2 the distinct 2-hop frontier
    (minus v and N1).  Harmonic centrality (Boldi & Vigna, "Axioms for
    centrality", 2014) is the principled centrality for web graphs —
    well-defined on disconnected digraphs where closeness is not — and
    its truncated-radius form is the standard crawl-frontier /
    hub-audit variant: at radius 2 it is computable EXACTLY with
    equi-joins, no sketches.

    Returns (node, n1, n2, harmonic_micros) for every node in
    ``nodes`` (isolated nodes get 0/0/0).

    Scale shape: the 1-hop set is the dedup'd edge list itself; the
    2-hop frontier is ONE dst=src self-equi-join followed by a
    distinct and an anti-join against the 1-hop set — all partitioned
    by node key, no windows, no all-pairs.  The intermediate 2-hop
    row count is Σ_v |N1(v)|·outdeg — the usual frontier blowup, which
    is why radius ≥ 3 switches to the HyperBall estimate
    (:func:`hyperball_estimates` / :func:`neighborhood_function`);
    this operator is the exact small-radius companion the estimators
    are validated against (tests cross-check it vs q209's sketches).
    Reference parity: no counterpart (the reference has no link
    graph); cited as the scale path for SURVEY §2.4 graph analytics.
    """
    e = (
        edges.filter(F.col(src) != F.col(dst))
        .select(F.col(src).alias("node"), F.col(dst).alias("nb"))
        .distinct()
    )
    hop2 = (
        e.alias("a")
        .join(
            e.select(
                F.col("node").alias("nb"), F.col("nb").alias("nb2")
            ).alias("b"),
            "nb",
        )
        .select("a.node", F.col("nb2").alias("nb"))
        .filter(F.col("node") != F.col("nb"))
        .distinct()
        .join(e, ["node", "nb"], "left_anti")
    )
    n1 = e.groupBy("node").agg(F.count("*").cast("long").alias("n1"))
    n2 = hop2.groupBy("node").agg(F.count("*").cast("long").alias("n2"))
    return (
        nodes.select("node")
        .join(n1, "node", "left")
        .join(n2, "node", "left")
        .select(
            "node",
            F.coalesce("n1", F.lit(0)).cast("long").alias("n1"),
            F.coalesce("n2", F.lit(0)).cast("long").alias("n2"),
        )
        .withColumn(
            "harmonic_micros",
            (F.col("n1") * F.lit(1000000) + F.col("n2") * F.lit(500000)),
        )
    )

def personalized_pagerank_micros(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Integer-exact PERSONALIZED PageRank (random walk with restart to
    a seed set) → (node, rank_micros). Where :func:`pagerank_micros`
    teleports uniformly — global importance — PPR teleports ONLY to
    ``seeds``, so mass concentrates in the seeds' neighborhoods: the
    seed-expansion primitive behind TrustRank-style quality propagation
    (trusted seeds → trustworthy hosts) and topic-conditioned crawl
    prioritization (seed the topic's known hosts, crawl by rank).

    Representation: each seed starts with 1_000_000 micros and receives
    the fixed restart term ``(100−d)·10_000`` every round; non-seeds
    get link mass only. All arithmetic is nonnegative integer with
    floor division (contrib = Σ s div outdeg), so partial-sum order
    cannot perturb results and a SQL oracle unrolls the same recurrence
    bit-for-bit — the repo-wide determinism discipline.

    Shape per round: one src-keyed join (partitioning reused — the
    edge side never moves after the first shuffle) + one dst-keyed
    partial-agg groupBy, seeds broadcast. No windows, no driver-side
    graph, no actions inside the loop; ``localCheckpoint`` every ~5
    rounds at 10^12 edges per the pagerank_micros note.
    """
    if n_iter < 0:
        raise ValueError("n_iter must be >= 0")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    s = seeds.select(F.col("node")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .union(s.select("node"))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    ed = e.join(outdeg, "src")
    is_seed = F.col("_seed").isNotNull()
    marked = nodes.join(
        F.broadcast(s.withColumn("_seed", F.lit(1))), "node", "left"
    )
    base = F.when(is_seed, F.lit((100 - damping_pct) * 10_000)).otherwise(
        F.lit(0)
    ).cast("long")
    ranks = marked.select(
        "node",
        F.when(is_seed, F.lit(1_000_000)).otherwise(F.lit(0))
        .cast("long")
        .alias("s"),
    )
    for _ in range(n_iter):
        contrib = (
            ed.join(ranks.select(F.col("node").alias("src"), "s"), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("s div outdeg")).alias("contrib"))
        )
        ranks = marked.join(
            contrib.withColumnRenamed("dst", "node"), "node", "left"
        ).select(
            "node",
            (
                base
                + F.expr(
                    f"({damping_pct} * coalesce(contrib, 0L)) div 100"
                )
            ).alias("s"),
        )
    return ranks.select("node", F.col("s").alias("rank_micros"))


def deterministic_walks(
    edges: DataFrame,
    steps: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Hash-seeded deterministic random walks — one walk of length
    ``steps`` from EVERY node: at step t the walker at v moves to the
    out-neighbor minimizing ``md5(v || '-' || t || '-' || nb)``. The
    positive-sample generator for DeepWalk/node2vec-style graph
    embedding training data, made REPRODUCIBLE: the "randomness" is a
    hash of (position, step, candidate), so two runs — or an engine
    and its oracle — emit identical walks, while across nodes/steps
    the choices are as good as random (md5 avalanche).

    Shape per step: ONE src-keyed equi-join (frontier × out-edges)
    then a partial-agg ``min(struct(hash, nb))`` groupBy(start) — the
    arg-min rides the aggregation, no window, no sort, no driver
    action in the loop. ``steps`` is a fixed unroll like
    pagerank_micros' rounds. Walkers at sinks (no out-edges) stop —
    inner join drops them; their walk columns are NULL in the final
    left-join assembly. Output: (start, v1 … v<steps>).
    """
    if steps < 1:
        raise ValueError("steps must be >= 1")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    out = nodes.select(F.col("node").alias("start"))
    cur = out.withColumn("_v", F.col("start"))
    for t in range(1, steps + 1):
        h = F.md5(
            F.concat_ws(
                "-",
                F.col("_v").cast("string"),
                F.lit(str(t)),
                F.col("_d").cast("string"),
            )
        )
        step = (
            cur.join(e, cur["_v"] == e["_s"])
            .select("start", h.alias("_h"), F.col("_d").alias("_nb"))
            .groupBy("start")
            .agg(F.min(F.struct("_h", "_nb")).alias("_m"))
            .select("start", F.col("_m._nb").alias(f"v{t}"))
        )
        out = out.join(step, "start", "left")
        cur = step.select("start", F.col(f"v{t}").alias("_v")).filter(
            F.col("_v").isNotNull()
        )
    return out


def indegree_gini(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Gini coefficient of the in-degree distribution — the one-number
    link-concentration audit (web graphs run ~0.6–0.9; a sudden jump
    says a link farm or a crawler trap is absorbing the frontier;
    near 0 says the synthetic fixture forgot to be skewed).

        G = (2·Σᵢ i·xᵢ) / (n·Σx) − (n + 1)/n,  x sorted ascending

    Exact integers end-to-end, reported in micros with floor-safe
    division. The rank index i comes from :func:`operators.layout.
    global_rank` (bucketed two-stage — NEVER a global sort/window even
    though the formula is an order statistic; ties rank by node id,
    which leaves Σ i·xᵢ invariant within tie groups since tied x are
    equal). Shape: one dst-keyed partial-agg groupBy (degree table,
    node-sized) → bucketed rank → one 1-row aggregation.
    """
    from .layout import global_rank

    deg = edges.groupBy(F.col(dst).alias("node")).agg(
        F.count("*").cast("bigint").alias("indeg")
    )
    ranked = global_rank(deg, "indeg", "node", 4, rank_name="grank")
    s = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("indeg").alias("sx"),
        F.sum(F.col("grank") * F.col("indeg")).alias("six"),
    )
    # G_micros = floor(1e6 * ((2*six) / (n*sx) - (n+1)/n))
    #          = floor(1e6 * (2*six*n - (n+1)*n*sx) / (n*n*sx))
    num = "(1000000 * (2 * six * n - (n + 1) * n * sx))"
    den = "(n * n * sx)"
    return s.selectExpr(
        "n",
        "sx AS total_indegree",
        f"CASE WHEN {den} > 0 THEN "
        f"({num} - (({num} % {den} + {den}) % {den})) div {den} "
        f"END AS gini_micros",
    )


def anchor_expansion(body: DataFrame, anchors: DataFrame,
                     anchor_weight: int = 2) -> DataFrame:
    """Anchor-text document expansion (classic web IR — Craswell et al.
    2001, "Effective Site Finding using Link Anchor Information"; the
    anchor field of BM25F): terms from INBOUND anchor text are routed
    to the TARGET document's term index, weighted, and merged with the
    body term frequencies.

    ``body`` is ``(id, text)``; ``anchors`` is ``(id, anchor)`` — one
    row per inbound link, already resolved to the target id (compose
    from :func:`anchor_pairs` with a url→id join). Output one row per
    (id, term) observed in EITHER field:
    ``(id, term, tf_body, tf_anchor, tf_expanded)`` with
    ``tf_expanded = tf_body + anchor_weight * tf_anchor``. The weight
    is an integer so the expanded tf stays exact (BM25F's per-field
    soft normalization composes downstream; the field routing is the
    operator).

    Scale shape: the anchor stream shuffles ONCE on the target id —
    the same exchange any inlink aggregation pays — then both fields
    are (doc, term) partial-agg groupBys and one full-outer equi-join
    on (doc, term). Mega-indegree targets (every page's nav link) are
    absorbed by map-side combine exactly as in anchor_text_stats.
    """
    from .dsir import _words

    tf_b = (
        body.select(F.col("doc_id"),
                    F.explode(_words(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("bigint").alias("tf_body"))
    )
    tf_a = (
        anchors.select(F.col("doc_id"),
                       F.explode(_words(F.col("anchor"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("bigint").alias("tf_anchor"))
    )
    w = F.lit(int(anchor_weight)).cast("bigint")
    return (
        tf_b.join(tf_a, ["doc_id", "term"], "full_outer")
        .select(
            "doc_id", "term",
            F.coalesce("tf_body", F.lit(0)).cast("bigint")
            .alias("tf_body"),
            F.coalesce("tf_anchor", F.lit(0)).cast("bigint")
            .alias("tf_anchor"),
            (F.coalesce("tf_body", F.lit(0))
             + w * F.coalesce("tf_anchor", F.lit(0))).cast("bigint")
            .alias("tf_expanded"),
        )
    )


REL_PAIR = ArrayType(StructType([
    StructField("href", StringType()),
    StructField("anchor", StringType()),
    StructField("rel", ArrayType(StringType())),
]))


def rel_anchor_pairs(docs: DataFrame) -> DataFrame:
    """(url, target, anchor, followed) — anchor_pairs plus the edge
    semantics real link graphs honor: ``rel`` containing nofollow,
    ugc or sponsored (Google's 2019 triad) marks the edge
    non-endorsing, so PageRank/TrustRank builders drop or down-weight
    it. Same Arrow-batched single-parse regime; the rel token check is
    JVM array_contains codegen after the explode."""
    pairs = docs.select(
        F.col("url"),
        F.explode(html_udf(docs, extract_anchors_rel, REL_PAIR)).alias("p"),
    )
    nofollow = (
        F.arrays_overlap(
            F.col("p.rel"),
            F.array(F.lit("nofollow"), F.lit("ugc"), F.lit("sponsored")),
        )
    )
    return pairs.select(
        "url",
        resolve_href(F.col("url"), F.col("p.href")).alias("target"),
        F.col("p.anchor").alias("anchor"),
        F.when(nofollow, F.lit(0)).otherwise(F.lit(1)).cast("int")
        .alias("followed"),
    ).where(F.col("target").isNotNull())


def anchor_pairs_base_aware(docs: DataFrame) -> DataFrame:
    """(url, base, target, anchor) — anchor_pairs with ``<base href>``
    semantics: when a page declares a base element, RELATIVE hrefs
    resolve against the base, not the page url (the HTML rule CDN-
    hosted and templated sites rely on; ignoring it mislabels every
    relative link on such pages — a silent link-graph corruption).
    Per spec only the FIRST base counts; absolute hrefs are
    unaffected; pages without a base behave exactly like
    anchor_pairs.

    The base extraction is one codegen regexp over the head; the only
    change to the resolution path is which url feeds resolve_href —
    same single-parse Arrow regime, same zero-shuffle plan.
    """
    base = F.regexp_extract(
        F.col("html").cast("string"),
        r'<base\s[^>]*href\s*=\s*"([^"]*)"', 1,
    )
    eff = F.when(base.rlike(r"^https?://"), base) \
        .otherwise(F.col("url"))
    pairs = docs.select(
        F.col("url"),
        eff.alias("_base"),
        F.explode(html_udf(docs, extract_anchors, _PAIR)).alias("p"),
    )
    return pairs.select(
        "url",
        F.col("_base").alias("base"),
        resolve_href(F.col("_base"), F.col("p.href")).alias("target"),
        F.col("p.anchor").alias("anchor"),
    ).where(F.col("target").isNotNull())


def host_cocitation(edges, max_fanout: int | None = None, min_shared: int = 1):
    """HOST co-citation similarity: two hosts are similar when they
    link to overlapping sets of destination hosts — ``(host_a,
    host_b, n_shared, n_a, n_b, jaccard_micros)`` for every ordered
    pair (a < b) sharing ≥ ``min_shared`` destinations. The
    mirror/network detector that composes with mirror_hosts (q161):
    content-identical mirrors share outlink sets even when their
    TEXT was rewritten, and spam link farms show near-1.0 outlink
    Jaccard across hundreds of "different" sites.

    Shape — the inverted-index self-join, never all-pairs: distinct
    edges, self-join ON dst (each destination emits only the pairs of
    hosts that actually cite it), partial-agg count per pair, then
    two joins against the host out-degree dim. ``max_fanout`` drops
    mega-in-degree destinations first (a dst cited by 10^5 hosts
    contributes 10^10 pairs but no discrimination — the standard
    frequency-cap from co-occurrence mining); the cap is a documented
    coverage bound, logged by callers. jaccard in integer micros —
    deterministic across engines.
    """
    from pyspark.sql import functions as F

    e = edges.select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    ).distinct()
    if max_fanout is not None:
        indeg = e.groupBy("dst").agg(F.count("*").alias("_in"))
        e = e.join(
            indeg.filter(F.col("_in") <= int(max_fanout)).select("dst"),
            "dst",
        )
    deg = e.groupBy("src").agg(F.count("*").cast("bigint").alias("d"))
    a = e.select(F.col("src").alias("host_a"), "dst")
    b = e.select(F.col("src").alias("host_b"), "dst")
    pairs = (
        a.join(b, "dst")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )
    return (
        pairs.join(deg.withColumnsRenamed({"src": "host_a", "d": "n_a"}),
                   "host_a")
        .join(deg.withColumnsRenamed({"src": "host_b", "d": "n_b"}),
              "host_b")
        .select(
            "host_a", "host_b", "n_shared", "n_a", "n_b",
            # exact integer div (q129/q220 discipline): double
            # division + cast can cross an integer boundary for very
            # large degree sums — a latent cross-engine hash mismatch
            F.expr("1000000L * n_shared"
                   " div (n_a + n_b - n_shared)")
            .cast("bigint").alias("jaccard_micros"),
        )
    )


def bowtie_decomposition(edges, seeds, k: int,
                         src: str = "src", dst: str = "dst"):
    """Web-graph BOW-TIE decomposition relative to a seed set (Broder
    et al., WWW 2000 — the canonical macro-structure of the web):
    ``(node, component, fwd_dist, bwd_dist)`` with component ∈
    {'core', 'in', 'out', 'disconnected'} — nodes that both reach
    and are reached by the seeds within ``k`` hops form the CORE,
    reachable-only nodes are OUT, reaching-only nodes are IN,
    neither is DISCONNECTED. Crawl economics read straight off the
    labels: IN pages feed discovery but can't be discovered from the
    core (seed them explicitly), OUT is reachable inventory,
    DISCONNECTED needs external seeds (sitemaps, feeds — q39/q244).

    Pure composition of the audited BFS machinery: bfs_min_dist
    forward over the edges and forward over the REVERSED edges (=
    backward reachability), then one full-outer join on node — no
    new traversal code, both passes level-synchronous joins-only
    with zero actions in the loop."""
    fwd = bfs_min_dist(edges, seeds, k, src=src, dst=dst).select(
        F.col("node"), F.col("dist").alias("fwd_dist")
    )
    rev = edges.select(F.col(dst).alias(src), F.col(src).alias(dst))
    bwd = bfs_min_dist(rev, seeds, k, src=src, dst=dst).select(
        F.col("node"), F.col("dist").alias("bwd_dist")
    )
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .unionByName(seeds.select(F.col("node")))
        .distinct()
    )
    j = nodes.join(fwd, "node", "left").join(bwd, "node", "left")
    has_f = F.col("fwd_dist").isNotNull()
    has_b = F.col("bwd_dist").isNotNull()
    return j.select(
        "node",
        F.when(has_f & has_b, "core")
        .when(has_f, "out")
        .when(has_b, "in")
        .otherwise("disconnected").alias("component"),
        F.col("fwd_dist").cast("int").alias("fwd_dist"),
        F.col("bwd_dist").cast("int").alias("bwd_dist"),
    )
