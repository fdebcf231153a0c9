"""Link-graph curation signals: outlink extraction, domain graph,
distributed PageRank, and domain blocklist filtering.

A web-scale corpus carries a quality signal no per-document filter can
see: the link structure. Common Crawl publishes per-domain rank tables
(harmonic centrality / PageRank over the host graph) and production
curation pipelines use them both ways — keep well-linked domains,
drop link-farm islands. Reference analog: readur tracks per-source
provenance and cross-references documents by source
(/root/reference/src/routes/sources.rs, src/db/documents) — at web
scale the cross-reference graph between sources IS the host link graph,
and ranking it is the curation step.

Scale shape:
* outlink extraction is ONE codegen'd pass — ``regexp_extract_all`` +
  ``explode``; no UDF, no shuffle before the per-domain aggregate;
* the domain graph is a project + distinct (one shuffle on the edge
  pair);
* PageRank is the canonical join + groupBy power iteration: edges are
  hash-partitioned on ``src`` ONCE and persisted, each iteration
  re-joins the (node, rank) table — at 10^8 domains both sides are
  far beyond broadcast, and the shuffle-hash join on a uniform domain
  key is the right plan. Every iteration ends in an eager
  ``localCheckpoint`` so the logical plan stays O(1) in iterations
  (the same lineage-truncation discipline as the LR classifier loop,
  operators/quality_classifier.py);
* blocklist filtering broadcasts the blocklist (curated lists are
  10^4-10^6 hosts — kilobytes to megabytes) into an anti-join.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from readur_spark.functions.urls import canonical_url_col

#: href attribute values, one codegen'd pass per quoting form (HTML
#: admits double-quoted, single-quoted, and unquoted attribute values,
#: and real crawls mix all three — an extractor that reads only
#: double quotes silently loses a biased slice of edges, r6 review
#: finding). Three patterns instead of one alternation because
#: ``regexp_extract_all`` extracts ONE group index per call and the
#: value group would sit at a different index per branch; the three
#: scans still pipeline in a single codegen stage, no UDF. ``(?i)``:
#: attribute names are case-insensitive in HTML. Scope line kept
#: deliberately narrow of a full parser: a quoted value containing a
#: literal ``href='...'`` as TEXT still matches (corpus-statistics
#: tool, not a browser).
HREF_RE = r'(?i)href\s*=\s*"([^"]+)"'
HREF_RE_SINGLE = r"(?i)href\s*=\s*'([^']+)'"
#: unquoted: first char not a quote, value runs to whitespace or '>'
#: (HTML5 unquoted-attribute-value state; '/' is part of the value).
#: The ``(^|[^\w.-])`` prefix group requires a non-attribute-name
#: character before ``href`` so JavaScript ``location.href=url`` and
#: ``data-href=...`` no longer contribute junk edges (r7 advisor
#: finding) — written as a consumed group rather than a lookbehind
#: because the DuckDB oracle's RE2 engine has no lookbehind; the VALUE
#: therefore sits in group 2 (see HREF_UNQUOTED_GROUP).
HREF_RE_UNQUOTED = r"(?i)(^|[^\w.\-])href\s*=\s*([^\s>\"'][^\s>]*)"
#: capture-group index of the attribute value in HREF_RE_UNQUOTED
HREF_UNQUOTED_GROUP = 2


def href_values(html_col) -> F.Column:
    """Array of raw href attribute values in ``html_col``, all three
    HTML quoting forms, in form-major order (all double-quoted, then
    single-quoted, then unquoted — callers aggregate, so relative
    order across forms is immaterial)."""
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    return F.concat(
        F.regexp_extract_all(c, F.lit(HREF_RE), 1),
        F.regexp_extract_all(c, F.lit(HREF_RE_SINGLE), 1),
        F.regexp_extract_all(c, F.lit(HREF_RE_UNQUOTED), HREF_UNQUOTED_GROUP),
    )


def domain_of(url_col) -> F.Column:
    """Lowercased host (no port, no userinfo) of an absolute URL;
    empty string for scheme-relative/relative references."""
    return F.lower(
        F.regexp_extract(
            url_col, r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?([^/?#:]+)", 1
        )
    )


def extract_outlinks(
    docs: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    base_domain_col: str | None = None,
    passthrough_cols: list[str] | None = None,
) -> DataFrame:
    """One row per (document, outlink): ``href`` targets pulled from the
    markup (all three HTML attribute quoting forms — see ``HREF_RE``
    family), canonicalized (functions/urls contract), with the target
    domain. Relative references (no scheme) keep an empty ``dst_domain``
    unless ``base_domain_col`` names a column to attribute them to.

    ``passthrough_cols``: input columns copied verbatim onto every
    output row (e.g. the page's own domain for a src_domain edge
    build) — saves a corpus-scale re-join when the caller needs them
    alongside the links (same idiom as extract_spans).

    Pure Catalyst: regexp_extract_all ×3 → concat → explode →
    canonicalize. The explode multiplies rows ~50× on real pages (avg
    outlinks/page) but stays pipelined — no shuffle until whatever
    aggregate follows."""
    passthrough = list(passthrough_cols or [])
    extra = sorted(
        set(passthrough)
        | ({base_domain_col} if base_domain_col else set())
    )
    links = docs.select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        F.explode(href_values(html_col)).alias("href"),
    )
    dst = domain_of(F.col("href"))
    if base_domain_col:
        dst = F.when(dst == "", F.lower(F.col(base_domain_col))).otherwise(
            dst
        )
    return links.select(
        F.col(id_col),
        canonical_url_col(F.col("href")).alias("target_url"),
        dst.alias("dst_domain"),
        *[F.col(c) for c in passthrough],
    )


def build_domain_graph(
    outlinks: DataFrame,
    weighted: bool = False,
) -> DataFrame:
    """Distinct (src, dst) domain edges, self-loops and empty hosts
    dropped — the host graph PageRank runs on. One shuffle (distinct on
    the pair).

    ``weighted=True`` returns (src, dst, weight) with ``weight`` the
    LINK MULTIPLICITY (how many outlinks cross the pair) instead of a
    distinct edge set — same single shuffle (groupBy on the pair), and
    the stronger spam signal for degree profiling: a link farm emits
    thousands of links across few distinct pairs, which the distinct
    view flattens to degree 1."""
    base = outlinks.select(
        F.col("src_domain").alias("src"),
        F.col("dst_domain").alias("dst"),
    ).filter(
        (F.col("src") != "")
        & (F.col("dst") != "")
        & (F.col("src") != F.col("dst"))
    )
    if weighted:
        return base.groupBy("src", "dst").agg(
            F.count("*").alias("weight")
        )
    return base.distinct()


def merge_edge_tables(
    old_edges: DataFrame,
    new_edges: DataFrame,
    decay: float = 1.0,
    prune_below: float = 0.0,
) -> DataFrame:
    """Incremental link-graph maintenance: merge a NEW crawl's weighted
    edge table (``build_domain_graph(..., weighted=True)`` output,
    ``(src, dst, weight)``) into a persisted one. Host graphs are
    recrawled continuously; rebuilding the full edge table from every
    crawl ever fetched is O(total-crawl-bytes), while this merge is one
    union + one groupBy-sum on the uniform (src, dst) pair key —
    O(|old| + |new|) with no driver materialization.

    ``decay`` multiplies the OLD weights before summing (exponential
    forgetting of stale links; 1.0 keeps pure accumulation). Decay by
    itself only shrinks weights — rank runs over the (src, dst)
    PROJECTION, so a decayed-but-present edge still ranks like a live
    one. ``prune_below`` is what makes forgetting real: merged edges
    with weight < prune_below are DROPPED from the table (and therefore
    from the rank graph) — with decay d and threshold t, an edge last
    seen with weight w disappears after ceil(log(t/w)/log(d)) recrawls
    in which it is not re-observed. Unweighted (2-column) inputs are
    accepted as weight-1 edges, so a distinct edge table merges too.
    Re-running :func:`pagerank` over the merged table with
    ``init_ranks=`` (the previous rank vector) + ``tol`` completes the
    warm-start recrawl loop."""
    if not 0.0 <= decay <= 1.0:
        raise ValueError(f"decay must be in [0, 1], got {decay}")
    if prune_below < 0.0:
        raise ValueError(f"prune_below must be >= 0, got {prune_below}")

    def _norm(df: DataFrame, scale: float) -> DataFrame:
        cols = df.columns
        w = (
            F.col(cols[2]).cast("double")
            if len(cols) >= 3
            else F.lit(1.0)
        )
        return df.select(
            F.col(cols[0]).alias("src"),
            F.col(cols[1]).alias("dst"),
            (w * F.lit(scale)).alias("weight"),
        )

    merged = (
        _norm(old_edges, decay)
        .unionByName(_norm(new_edges, 1.0))
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
        .filter(F.col("weight") > 0)
    )
    if prune_below > 0.0:
        merged = merged.filter(F.col("weight") >= prune_below)
    return merged


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 5,
    tol: float | None = None,
    stats: dict | None = None,
    teleport: DataFrame | None = None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """PageRank by power iteration over a (src, dst) edge table.
    Returns (node, rank); ranks sum to 1 across nodes.

    ``init_ranks``: optional warm start — a previous run's (node, rank)
    table (first column node, second the rank). Ranks for nodes present
    are reused, new nodes start at 1/N, and the vector is renormalized;
    the fixpoint is unchanged (power iteration converges from any
    positive start), so with ``tol`` a recrawl re-rank typically needs
    a fraction of the cold-start iterations (incremental link-graph
    maintenance — see merge_edge_tables).

    ``teleport``: optional personalization vector — a DataFrame whose
    first column is the node and whose optional second column is a
    non-negative weight (default 1 per listed node). Weights are
    normalized over the nodes PRESENT in the graph; the teleport term,
    the dangling-mass redistribution, and the initial ranks all follow
    the vector instead of the uniform 1/N (personalized PageRank /
    TrustRank semantics — mass still conserved exactly, since dangling
    mass re-enters through the same distribution). ``None`` keeps the
    classic uniform formulation, bit-for-bit unchanged.

    ``tol``: optional L1 convergence threshold — when set, each
    iteration additionally computes Σ|rank' - rank| (ONE extra scalar
    aggregate over the already-checkpointed old/new rank tables) and
    the loop stops early once the delta falls to ``tol`` or below;
    ``iters`` remains the hard cap. At 10^8 domains the delta join is
    on the same uniform node key as the main iteration — the early
    stop saves whole iterations, each a corpus-scale shuffle, for one
    cheap scalar per loop. ``stats``: optional caller-supplied dict,
    populated with ``iterations_run``, ``final_delta`` (None when no
    delta was computed), and ``converged``.

    Semantics (the standard formulation, Page et al. 1999):
    rank' (v) = (1-d)/N + d·(Σ_{u→v} rank(u)/outdeg(u) + dangling/N)
    where ``dangling`` is the total rank mass on nodes with no
    outlinks, redistributed uniformly — so mass is conserved exactly
    and the result is a probability distribution at every iteration.

    Scale shape: nodes = distinct(src ∪ dst) and the per-src outdegree
    are computed once and PERSISTED pre-partitioned on the join key;
    each iteration is one shuffle-hash join (ranks ⋈ edges on src) +
    one groupBy(dst) — both on the same uniform domain-hash key — plus
    a scalar dangling-mass aggregate, and ends in an eager
    localCheckpoint so the plan never grows with ``iters``. No
    collect() ever holds more than one scalar."""
    from readur_spark.plans.curation import _release_checkpoint

    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    if tol is not None and tol < 0:
        raise ValueError(f"tol must be >= 0, got {tol}")
    if stats is not None:
        stats.update(
            {"iterations_run": 0, "final_delta": None, "converged": False}
        )
    e = edges.select("src", "dst")
    nodes_ck = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes_ck.count()
    if n == 0:
        return nodes_ck.withColumn("rank", F.lit(0.0))
    # every intermediate below is released on the way out, whether the
    # ranks return or a validation or iteration error raises
    edeg = danglers = nodes_t = None
    try:
        # Scale-derived graph partitioning: a web-scale graph keeps the
        # session's configured shuffle parallelism, but a small graph (the
        # per-domain graphs these pipelines mostly rank: 10^2-10^4 hosts)
        # collapses to a handful of partitions so each of the ``iters``
        # sequential jobs schedules a few tasks instead of
        # spark.sql.shuffle.partitions near-empty ones — the iteration loop
        # on small graphs is pure scheduling latency (guide §2.6).
        # Partitioning never changes the computed ranks.
        spark = edges.sparkSession
        try:
            shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            shuffle_p = 200
        graph_p = max(1, min(shuffle_p, -(-n // 2000)))
        # narrow coalesced view for the loop; nodes_ck stays the handle the
        # release paths unpersist (coalesce wraps the checkpointed RDD — an
        # unpersist through the wrapper would miss it). Only wrap when the
        # count actually shrinks: a no-op coalesce still erases the
        # checkpoint's hash-partitioning info and forced an extra exchange
        # of the node table every iteration at corpus scale (10M-edge A/B).
        nodes = nodes_ck if graph_p >= shuffle_p else nodes_ck.coalesce(graph_p)
        outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
        # edges ⋈ outdeg once, pre-partitioned on src — every iteration's
        # join reuses this layout instead of re-shuffling the edge table.
        # The explicit partition count is only forced when it SHRINKS the
        # layout (small graphs); a web-scale graph keeps the keyless-count
        # form so AQE stays free to size the exchange (an explicit count
        # disables AQE coalescing for that exchange — measured +20 % per
        # iteration at 10M edges).
        edeg = e.join(outdeg, "src")
        edeg = (
            edeg.repartition(graph_p, "src")
            if graph_p < shuffle_p
            else edeg.repartition("src")
        ).persist()
        edeg.count()  # materialize before the loop
        # the DANGLING NODE SET is loop-invariant: materialize it once.
        # Re-deriving it per iteration (ranks anti-join outdeg) re-executed
        # the whole upstream edge plan — corpus-scale extraction work ×
        # iters when edges is a lazy view over extract_outlinks (review
        # finding); only the rank MASS on these nodes changes per step.
        danglers_df = nodes.join(
            edeg.select("src").distinct(),
            nodes["node"] == F.col("src"),
            "left_anti",
        )
        if graph_p < shuffle_p:
            danglers_df = danglers_df.coalesce(graph_p)
        danglers = danglers_df.localCheckpoint(eager=True)

        # teleport vector: uniform stays the scalar formulation below
        # (bit-identical to the oracle-pinned classic path); a
        # personalization vector becomes a per-node __t column carried on
        # the nodes table (normalized over graph nodes, absent nodes 0)
        if teleport is not None:
            tcols = teleport.columns
            # __nbad flags rows whose raw weight is non-null but casts to
            # NULL (non-numeric strings): sum/min silently skip NULLs, so
            # without the flag a malformed seeds table would degrade
            # TrustRank with no signal (r7 advisor finding). Counted
            # BEFORE the groupBy — a node with one good and one malformed
            # row must still raise.
            # try_cast, not cast: under ANSI mode (Spark 4 default) a plain
            # cast THROWS mid-stage on the first malformed string; try_cast
            # yields NULL so the __nbad aggregate can surface ALL bad rows
            # in one clean ValueError either way.
            pre = teleport.select(
                F.col(tcols[0]).alias("node"),
                (
                    F.col(tcols[1]).try_cast("double")
                    if len(tcols) > 1
                    else F.lit(1.0)
                ).alias("__w"),
                (
                    (
                        F.col(tcols[1]).isNotNull()
                        & F.col(tcols[1]).try_cast("double").isNull()
                    ).cast("long")
                    if len(tcols) > 1
                    else F.lit(0).cast("long")
                ).alias("__nbad"),
            )
            tv = pre.groupBy("node").agg(
                F.sum("__w").alias("__w"), F.sum("__nbad").alias("__nbad")
            )
            on_graph = nodes.join(tv, "node")
            agg = on_graph.agg(
                F.coalesce(F.sum("__w"), F.lit(0.0)).alias("total"),
                F.coalesce(F.min("__w"), F.lit(0.0)).alias("lo"),
                F.coalesce(F.sum("__nbad"), F.lit(0)).alias("nbad"),
            ).first()
            total = agg["total"]
            if agg["nbad"] > 0:
                raise ValueError(
                    f"teleport weights contain {agg['nbad']} non-numeric "
                    "value(s) on graph nodes (cast to double yields NULL)"
                )
            if agg["lo"] < 0:
                raise ValueError(
                    "teleport weights must be non-negative "
                    f"(min on graph nodes: {agg['lo']})"
                )
            if total <= 0:
                raise ValueError(
                    "teleport vector has no positive mass on graph nodes"
                )
            nodes_t = (
                nodes.join(
                    tv.select("node", (F.col("__w") / total).alias("__t")),
                    "node",
                    "left",
                )
                .select("node", F.coalesce("__t", F.lit(0.0)).alias("__t"))
                .localCheckpoint(eager=True)
            )
            # warm starts never read the teleport-derived init vector — it
            # would be built, checkpointed, and immediately replaced below
            # (one wasted corpus-scale materialization per warm-started
            # recrawl; r8 advisor finding). Only nodes_t is needed then.
            ranks = (
                None
                if init_ranks is not None
                else nodes_t.select(
                    "node", F.col("__t").alias("rank")
                ).localCheckpoint(eager=True)
            )
        else:
            ranks = (
                None
                if init_ranks is not None
                else nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint(
                    eager=True
                )
            )
        if init_ranks is not None:
            # warm start (incremental recrawl): seed the iteration from a
            # previous run's rank vector instead of the teleport/uniform
            # init. The power-iteration FIXPOINT is init-independent (the
            # Google matrix is primitive for damping < 1), so with tol=
            # this only changes how many corpus-scale iterations the loop
            # needs — new nodes absent from the old vector start at 1/N,
            # then the whole vector is renormalized to a probability
            # distribution (one scalar aggregate, setup-only cost).
            icols = init_ranks.columns
            # try_cast, same rationale as the teleport path: ANSI mode would
            # otherwise throw an opaque mid-stage cast error on a malformed
            # rank value, and non-ANSI would silently skip it in the sum —
            # __nbad surfaces bad rows as a loud ValueError instead.
            iv = (
                init_ranks.select(
                    F.col(icols[0]).alias("node"),
                    F.col(icols[1]).try_cast("double").alias("__ir"),
                    F.col(icols[1]).isNotNull().alias("__raw_nn"),
                )
                .groupBy("node")
                .agg(
                    F.sum("__ir").alias("__ir"),
                    F.sum(
                        F.when(
                            F.col("__raw_nn") & F.col("__ir").isNull(), 1
                        ).otherwise(0)
                    ).alias("__nbad"),
                )
            )
            seeded = nodes.join(iv, "node", "left").select(
                "node",
                F.coalesce("__ir", F.lit(1.0 / n)).alias("rank"),
                F.coalesce("__nbad", F.lit(0)).alias("__nbad"),
            )
            itot = seeded.agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("t"),
                F.coalesce(F.min("rank"), F.lit(0.0)).alias("lo"),
                F.coalesce(F.sum("__nbad"), F.lit(0)).alias("nbad"),
            ).first()
            seeded = seeded.drop("__nbad")
            if itot["nbad"] > 0:
                raise ValueError(
                    f"init_ranks contains {itot['nbad']} non-numeric rank "
                    "value(s) on graph nodes (cast to double yields NULL)"
                )
            if itot["lo"] < 0 or itot["t"] <= 0:
                raise ValueError(
                    "init_ranks must be non-negative with positive total "
                    f"mass on graph nodes (min {itot['lo']}, sum {itot['t']})"
                )
            ranks = seeded.select(
                "node", (F.col("rank") / itot["t"]).alias("rank")
            ).localCheckpoint(eager=True)
        base = (1.0 - damping) / n
        # Dangling-mass dispatch (measured both ways at both scales): on
        # SMALL graphs the per-iteration `.first()` round trip dominates, so
        # the 1-row aggregate is broadcast INTO the iteration job (one job
        # per iteration instead of two). On LARGE graphs the fused form is
        # net SLOWER — the broadcast subtree still reads the rank vector,
        # and the nested-loop join of the scalar row against every node
        # breaks whole-stage codegen (10M-edge A/B: +12-30 % per iteration)
        # — so corpus-scale graphs keep the classic collect + literal.
        # Either way the identical float64 reaches the identical expression
        # (AQE on/off hash-equal probe + DuckDB gate).
        fuse_dangling = n <= 100_000
        for _ in range(iters):
            # rank mass parked on dangling nodes (no outgoing edges)
            dang_subtree = (
                ranks.join(danglers, "node", "left_semi")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dang"))
            )
            if fuse_dangling:
                dang_uniform = F.col("__dang") / F.lit(float(n))
                dang_teleport = F.col("__dang")
            else:
                dangling = dang_subtree.first()[0]
                dang_uniform = F.lit(dangling / n)
                dang_teleport = F.lit(dangling)
            contribs = (
                edeg.join(ranks, edeg["src"] == ranks["node"])
                .select(
                    F.col("dst").alias("node"),
                    (F.col("rank") / F.col("outdeg")).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("inmass"))
            )
            if nodes_t is not None:
                new_ranks = nodes_t.join(contribs, "node", "left")
                if fuse_dangling:
                    new_ranks = new_ranks.crossJoin(F.broadcast(dang_subtree))
                new_ranks = new_ranks.select(
                    "node",
                    (
                        F.lit(1.0 - damping) * F.col("__t")
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("inmass"), F.lit(0.0))
                            + dang_teleport * F.col("__t")
                        )
                    ).alias("rank"),
                )
            else:
                new_ranks = nodes.join(contribs, "node", "left")
                if fuse_dangling:
                    new_ranks = new_ranks.crossJoin(F.broadcast(dang_subtree))
                new_ranks = new_ranks.select(
                    "node",
                    (
                        F.lit(base)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("inmass"), F.lit(0.0))
                            + dang_uniform
                        )
                    ).alias("rank"),
                )
            old = ranks
            ranks = new_ranks.localCheckpoint(eager=True)
            if stats is not None:
                stats["iterations_run"] += 1
            if tol is not None:
                delta = (
                    ranks.alias("new")
                    .join(old.alias("old"), "node")
                    .agg(
                        F.coalesce(
                            F.sum(
                                F.abs(
                                    F.col("new.rank") - F.col("old.rank")
                                )
                            ),
                            F.lit(0.0),
                        )
                    )
                    .first()[0]
                )
                if stats is not None:
                    stats["final_delta"] = delta
                if delta <= tol:
                    if stats is not None:
                        stats["converged"] = True
                    _release_checkpoint(old)
                    break
            _release_checkpoint(old)
        return ranks
    finally:
        if edeg is not None:
            edeg.unpersist()
        for ck in (danglers, nodes_ck, nodes_t):
            if ck is not None:
                _release_checkpoint(ck)


def trustrank(
    edges: DataFrame,
    seeds: Iterable[str] | DataFrame,
    damping: float = 0.85,
    iters: int = 5,
    tol: float | None = None,
    stats: dict | None = None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina, Pedersen, VLDB 2004): PageRank
    personalized to a curated set of TRUSTED seed hosts — the teleport
    (and the dangling re-entry, and the initial mass) lands only on
    seeds, so trust flows outward along links and link-farm islands
    unreachable from any seed converge to rank 0. The classic
    complement to the UT1 blocklist: the blocklist names known-bad
    hosts, TrustRank scores everything by distance-weighted reachability
    from known-good ones.

    ``seeds``: host names (iterable, uniform trust) or a DataFrame whose
    first column is the host and optional second column a non-negative
    trust weight. Seeds absent from the graph are ignored; an empty
    intersection raises. Same scale shape as :func:`pagerank` — the
    seed vector adds one broadcast-size join at setup and a __t column
    on the node table, nothing per-iteration."""
    spark = edges.sparkSession
    if isinstance(seeds, DataFrame):
        sd = seeds
    else:
        hosts = sorted({str(h) for h in seeds})
        if not hosts:
            raise ValueError("trustrank needs at least one seed host")
        sd = spark.createDataFrame([(h,) for h in hosts], "node string")
    return pagerank(
        edges,
        damping=damping,
        iters=iters,
        tol=tol,
        stats=stats,
        teleport=sd,
        init_ranks=init_ranks,
    )


def hits(
    edges: DataFrame,
    iters: int = 20,
    tol: float | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """HITS (Kleinberg, JACM 1999): hub and authority scores by mutual
    reinforcement over a (src, dst) edge table — authority(v) sums the
    hub scores of pages linking TO v, hub(u) sums the authority scores
    u links to, each vector L2-normalized per iteration (the power
    iteration on AᵀA / AAᵀ). Complements PageRank in link-graph
    curation: PageRank surfaces globally endorsed hosts; authorities
    surface hosts endorsed by link HUBS, and the hub scores themselves
    identify the directories/aggregators a crawl frontier should
    prioritize for discovery. Reference parity note: readur itself has
    no graph analytics; this (like pagerank) is part of the crawl-
    curation layer the 100 TB pipeline needs.

    Expects a DISTINCT edge table (:func:`build_domain_graph` output);
    multi-edges would count multiply, as in pagerank. Returns
    (node, hub, authority), both unit-L2 over the node set. ``tol``:
    early stop once the L1 delta of BOTH vectors falls to ``tol``;
    ``stats`` is filled with iterations_run / final_delta / converged.

    Scale shape: nodes = distinct(src ∪ dst) computed once and
    checkpointed; each iteration is two shuffle-hash joins + two
    groupBys on the uniform node key — each executed exactly ONCE (the
    raw vectors are eagerly checkpointed BEFORE their norm scalars are
    read, the pagerank pattern, so the norm aggregate and the next
    stage both read the materialized table instead of re-running the
    join) — plus two scalar L2 norms and one cheap projection. The
    plan stays O(1) in ``iters``; the same per-iteration cost envelope
    as :func:`pagerank` at ~2× the join count."""
    from readur_spark.plans.curation import _release_checkpoint

    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    if tol is not None and tol < 0:
        raise ValueError(f"tol must be >= 0, got {tol}")
    if stats is not None:
        stats.update(
            {"iterations_run": 0, "final_delta": None, "converged": False}
        )
    e = edges.select("src", "dst")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .repartition("node")
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        # release before raising — error paths must not leak the
        # eagerly-checkpointed node table (r8 review finding)
        _release_checkpoint(nodes)
        raise ValueError("edge table is empty — HITS is undefined")
    ep = e.repartition("src").persist()
    ep.count()

    init = 1.0 / (n ** 0.5)
    hv = nodes.select(
        "node", F.lit(init).alias("hub"), F.lit(init).alias("authority")
    ).localCheckpoint(eager=True)
    cur_ck = hv  # the live checkpoint handle hv reads from

    def _norm2(df: DataFrame, col: str) -> float:
        v = df.agg(
            F.coalesce(F.sum(F.col(col) * F.col(col)), F.lit(0.0))
        ).first()[0]
        return float(v) ** 0.5

    for _ in range(iters):
        # authority update: sum of inbound hub mass; checkpoint the RAW
        # vector first so the norm scalar and the hub stage both read
        # the materialized table (one execution of the join+groupBy)
        a_raw = (
            ep.join(hv.select("node", "hub"), ep["src"] == F.col("node"))
            .groupBy("dst")
            .agg(F.sum("hub").alias("a_raw"))
        )
        a_ck = (
            nodes.join(a_raw, nodes["node"] == a_raw["dst"], "left")
            .select("node", F.coalesce("a_raw", F.lit(0.0)).alias("a_raw"))
            .localCheckpoint(eager=True)
        )
        an = _norm2(a_ck, "a_raw")
        if an == 0.0:
            # no edges carried any mass (cannot happen with n>0 and a
            # nonempty edge table, but guard the division)
            _release_checkpoint(a_ck)
            break
        auths = a_ck.select(
            "node", (F.col("a_raw") / F.lit(an)).alias("authority")
        )
        # hub update from the NEW authorities; same checkpoint-first
        # discipline
        h_raw = (
            ep.join(auths, ep["dst"] == auths["node"])
            .groupBy("src")
            .agg(F.sum("authority").alias("h_raw"))
        )
        h_ck = (
            auths.join(h_raw, auths["node"] == h_raw["src"], "left")
            .select(
                "node",
                F.coalesce("h_raw", F.lit(0.0)).alias("h_raw"),
                "authority",
            )
            .localCheckpoint(eager=True)
        )
        _release_checkpoint(a_ck)
        hn = _norm2(h_ck, "h_raw")
        if hn == 0.0:
            # mirror the an guard: dividing by 0.0 would silently NULL
            # every hub and fake a converged verdict (r8 review finding)
            _release_checkpoint(h_ck)
            break
        new_hv = h_ck.select(
            "node",
            (F.col("h_raw") / F.lit(hn)).alias("hub"),
            "authority",
        )
        if stats is not None:
            stats["iterations_run"] += 1
        if tol is not None:
            delta = (
                new_hv.alias("n")
                .join(hv.alias("o"), "node")
                .agg(
                    F.coalesce(
                        F.sum(
                            F.abs(F.col("n.hub") - F.col("o.hub"))
                            + F.abs(
                                F.col("n.authority")
                                - F.col("o.authority")
                            )
                        ),
                        F.lit(0.0),
                    )
                )
                .first()[0]
            )
            if stats is not None:
                stats["final_delta"] = delta
        _release_checkpoint(cur_ck)
        cur_ck = h_ck
        hv = new_hv
        if tol is not None and delta <= tol:
            if stats is not None:
                stats["converged"] = True
            break
    ep.unpersist()
    _release_checkpoint(nodes)
    # materialize the returned projection and release the iteration
    # checkpoint it reads from, so the caller holds exactly one small
    # table (same pattern as hyperball's return)
    result = hv.localCheckpoint(eager=True)
    _release_checkpoint(cur_ck)
    return result


def filter_by_domain_blocklist(
    docs: DataFrame,
    blocklist: Iterable[str] | DataFrame,
    domain_col: str = "domain",
) -> DataFrame:
    """Drop documents whose domain is on the blocklist (UT1-style
    curated host lists). The blocklist side is explicitly broadcast —
    curated lists are 10^4-10^6 hosts, megabytes at most — so the
    anti-join is map-side at any corpus scale."""
    spark = docs.sparkSession
    if isinstance(blocklist, DataFrame):
        bl = blocklist.select(
            F.lower(F.col(blocklist.columns[0])).alias("__blocked")
        )
    else:
        hosts = sorted({h.lower() for h in blocklist})
        bl = spark.createDataFrame(
            [(h,) for h in hosts], "__blocked string"
        )
    return docs.join(
        F.broadcast(bl.distinct()),
        F.lower(F.col(domain_col)) == F.col("__blocked"),
        "left_anti",
    )


#: whole anchor elements, open tag through the nearest close tag —
#: ``(?is)``: case-insensitive (``<A HREF=..>``), dot matches newlines
#: (attribute lists and bodies wrap). The lazy body stops at the FIRST
#: ``</a>``, so an (invalid) nested anchor truncates at the inner close
#: — the browser-recovery answer. The body may contain nested markup
#: (``<a><b>text</b></a>``); tags are stripped AFTER extraction.
ANCHOR_EL_RE = r"(?is)<a(?:\s[^>]*)?>.*?</a\s*>"


def extract_anchor_texts(docs: DataFrame) -> DataFrame:
    """One row per (document, anchor): the canonical target URL, its
    domain, and the whitespace-collapsed anchor text — the classic
    relevance signal (anchor text describes the TARGET document, so
    aggregating it per target yields training-quality labels the target
    page itself can't fake).

    Pure Catalyst, two stages in one codegen span: (1) extract whole
    ``<a ...>...</a>`` elements and explode; (2) per element, pull the
    href from the OPENING TAG ONLY (a ``<link href=..>`` nested in the
    body must not be mistaken for the anchor's target), trying the
    three quoting forms in order, and derive the text by stripping the
    open/close tags, replacing nested markup with spaces (``<br>``
    separates words), and collapsing whitespace. Anchors without an
    href in any form, and anchors whose body is empty after markup
    strip, are dropped. No UDF, no shuffle."""
    els = docs.select(
        F.col("doc_id"),
        F.explode(
            F.regexp_extract_all(F.col("html"), F.lit(ANCHOR_EL_RE), 0)
        ).alias("el"),
    )
    open_tag = F.regexp_extract(F.col("el"), r"(?is)^<a(?:\s[^>]*)?>", 0)
    href = F.coalesce(
        F.nullif(F.regexp_extract(open_tag, HREF_RE, 1), F.lit("")),
        F.nullif(F.regexp_extract(open_tag, HREF_RE_SINGLE, 1), F.lit("")),
        F.nullif(
            F.regexp_extract(open_tag, HREF_RE_UNQUOTED, HREF_UNQUOTED_GROUP),
            F.lit(""),
        ),
    )
    body = F.regexp_replace(
        F.col("el"), r"(?is)^<a(?:\s[^>]*)?>|</a\s*>$", ""
    )
    anchor = F.trim(
        F.regexp_replace(
            F.regexp_replace(body, r"(?s)<[^>]*>", " "), r"\s+", " "
        )
    )
    return (
        els.select(
            F.col("doc_id"),
            href.alias("href"),
            anchor.alias("anchor_text"),
        )
        .filter(F.col("href").isNotNull() & (F.col("anchor_text") != ""))
        .select(
            F.col("doc_id"),
            canonical_url_col(F.col("href")).alias("target_url"),
            domain_of(F.col("href")).alias("dst_domain"),
            F.col("anchor_text"),
        )
    )


def anchor_text_stats(anchors: DataFrame, top_k: int = 3) -> DataFrame:
    """Per-target anchor profile: ``(target_url, n_anchors, n_docs,
    n_unique_texts, top_anchors)`` with ``top_anchors`` the ``top_k``
    most frequent anchor texts (ties broken lexicographically — 
    deterministic across runs and engines).

    Two shuffles, both on uniform keys: (target, text) counts, then a
    per-target window for the top-k cut — rank ≤ k keeps the state
    bounded per target regardless of in-degree (a mega-hub with 10^7
    anchors never collects more than k rows past the window)."""
    from pyspark.sql.window import Window

    counts = anchors.groupBy("target_url", "anchor_text").agg(
        F.count("*").alias("c"),
        F.countDistinct("doc_id").alias("d"),
    )
    w = Window.partitionBy("target_url").orderBy(
        F.desc("c"), F.asc("anchor_text")
    )
    ranked = counts.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("target_url")
        .agg(
            F.sum("c").cast("long").alias("n_anchors"),
            F.sum("d").cast("long").alias("n_doc_anchor_pairs"),
            F.count("*").cast("long").alias("n_unique_texts"),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("rn") <= top_k,
                        F.struct("rn", F.col("anchor_text").alias("t")),
                    )
                )
            ).alias("__top__"),
        )
        .select(
            "target_url",
            "n_anchors",
            "n_doc_anchor_pairs",
            "n_unique_texts",
            F.transform(F.col("__top__"), lambda s: s["t"]).alias(
                "top_anchors"
            ),
        )
    )


def anchor_quality_features(
    docs: DataFrame,
    anchors: DataFrame,
) -> DataFrame:
    """Join per-TARGET anchor-text profiles onto the target documents
    as trainable quality features — the classic inbound-anchor signal
    (anchor text describes the target and the target can't fake it;
    the r7 verdict's 'anchor_text_stats exists but nothing consumes
    it' gap). ``docs`` needs (``doc_id``, ``url``); ``anchors`` is
    :func:`extract_anchor_texts` output (or any
    ``(doc_id, target_url, anchor_text)`` table — target_url is
    re-canonicalized here, so raw URLs are accepted).

    Appends, zero-filled for never-linked documents:

    - ``n_inlink_anchors`` — total anchors pointing at the doc
    - ``n_linking_docs`` — distinct source documents
    - ``n_unique_anchor_texts``
    - ``anchor_diversity`` — unique texts / anchors: 1.0 reads organic
      (every citer words it differently), →0 reads boilerplate nav or
      a link farm stamping one text
    - ``top_anchor_share`` — frequency share of the most common text,
      the inverse farm signal
    - ``anchor_text_len_mean`` — anchor-weighted mean text length

    Scale shape: two groupBy passes hash-partitioned on the SAME
    ``target_url`` key (the second reuses the first's layout under
    AQE) plus one distinct-doc aggregate on that key; the feature join
    keys docs by canonical URL — a uniform key, shuffle join at
    10^12 docs, no driver materialization, no UDF."""
    a = anchors.select(
        F.col("doc_id").alias("__src"),
        canonical_url_col(F.col("target_url")).alias("target_url"),
        "anchor_text",
    )
    counts = a.groupBy("target_url", "anchor_text").agg(
        F.count("*").alias("c")
    )
    prof = counts.groupBy("target_url").agg(
        F.sum("c").cast("long").alias("n_inlink_anchors"),
        F.count("*").cast("long").alias("n_unique_anchor_texts"),
        F.max("c").alias("__top_c"),
        (
            F.sum(F.length("anchor_text") * F.col("c"))
            / F.sum("c")
        ).alias("anchor_text_len_mean"),
    )
    linking = a.groupBy("target_url").agg(
        F.countDistinct("__src").cast("long").alias("n_linking_docs")
    )
    prof = prof.join(linking, "target_url").select(
        "target_url",
        "n_inlink_anchors",
        "n_linking_docs",
        "n_unique_anchor_texts",
        (
            F.col("n_unique_anchor_texts")
            / F.col("n_inlink_anchors")
        ).alias("anchor_diversity"),
        (F.col("__top_c") / F.col("n_inlink_anchors")).alias(
            "top_anchor_share"
        ),
        "anchor_text_len_mean",
    )
    keyed = docs.withColumn(
        "__url", canonical_url_col(F.col("url"))
    )
    out = keyed.join(
        prof, keyed["__url"] == prof["target_url"], "left"
    ).drop("target_url", "__url")
    return out.select(
        *docs.columns,
        F.coalesce("n_inlink_anchors", F.lit(0)).alias(
            "n_inlink_anchors"
        ),
        F.coalesce("n_linking_docs", F.lit(0)).alias("n_linking_docs"),
        F.coalesce("n_unique_anchor_texts", F.lit(0)).alias(
            "n_unique_anchor_texts"
        ),
        F.coalesce("anchor_diversity", F.lit(0.0)).alias(
            "anchor_diversity"
        ),
        F.coalesce("top_anchor_share", F.lit(0.0)).alias(
            "top_anchor_share"
        ),
        F.coalesce("anchor_text_len_mean", F.lit(0.0)).alias(
            "anchor_text_len_mean"
        ),
    )


def domain_degree_stats(
    edges: DataFrame, weight_col: str | None = None
) -> DataFrame:
    """Per-domain degree profile over a (src, dst) edge table:
    ``(domain, out_degree, in_degree, reciprocal_degree)`` —
    ``reciprocal_degree`` counting neighbors linked in BOTH directions
    (the mutual-link signal link farms inflate; Common Crawl's host
    ranks publish exactly this family of columns).

    Degrees count edge ROWS: over the distinct edge table
    (build_domain_graph default) that is the classic distinct-neighbor
    degree; pass the WEIGHTED graph (``build_domain_graph(...,
    weighted=True)``) with ``weight_col="weight"`` to sum link
    multiplicity instead — the stronger spam signal (a farm emitting
    10^4 links to one target reads degree 1 distinct, 10^4 weighted).
    ``reciprocal_degree`` always counts distinct mutual NEIGHBORS,
    both modes (multiplicity of a mutual pair is not a separate
    signal).

    Scale shape: two groupBy passes on uniform domain keys plus one
    self-join of the edge table against its own reversal for the
    reciprocal count — all shuffles on the same key family, no
    broadcast needed, no driver materialization."""
    deg = (
        F.sum(weight_col).cast("long") if weight_col else F.count("*")
    )
    out_d = edges.groupBy(F.col("src").alias("domain")).agg(
        deg.alias("out_degree")
    )
    in_d = edges.groupBy(F.col("dst").alias("domain")).agg(
        deg.alias("in_degree")
    )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    recip = (
        edges.join(rev, ["src", "dst"], "left_semi")
        .groupBy(F.col("src").alias("domain"))
        .agg(F.count("*").alias("reciprocal_degree"))
    )
    return (
        out_d.join(in_d, "domain", "full")
        .join(recip, "domain", "left")
        .select(
            "domain",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("reciprocal_degree", F.lit(0)).alias(
                "reciprocal_degree"
            ),
        )
    )


def domain_components(edges: DataFrame) -> DataFrame:
    """Weakly-connected components of the host graph with component
    sizes: ``(node, component, component_size)``, component = the
    lexicographically smallest member — the link-farm-ISLAND signal
    (spam networks form dense components disconnected from the main
    web; curation keeps the giant component and inspects the rest).

    Reuses the near-dup clustering engine
    (:func:`readur_spark.operators.dedup.connected_components`:
    iterative min-label propagation, one join + one map-side-combining
    groupBy per round, per-round localCheckpoint keeping the plan O(1),
    early stop on convergence). Host graphs have larger diameters than
    near-dup clusters, hence the raised bound of 100 rounds (propagation stops
    as soon as labels stabilize, so the bound is a guard, not a cost).
    Component size is one window over the label — same uniform key."""
    from pyspark.sql.window import Window

    from readur_spark.operators.dedup import connected_components

    comp = connected_components(
        edges.select(
            F.col("src").alias("id_a"), F.col("dst").alias("id_b")
        ),
        max_iter=100,
    )
    w = Window.partitionBy("component")
    return comp.select(
        F.col("id").alias("node"),
        "component",
        F.count("*").over(w).cast("long").alias("component_size"),
    )
