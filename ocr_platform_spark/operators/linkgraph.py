"""Crawl link graph: outlink edges + host-level rollups.

The edge list is the substrate of crawl-scale analyses (host authority,
spam clusters, frontier scheduling). Shape at 10^12 pages: the kernel emits
edges map-side (no shuffle), host projection is a column expression, and
every rollup is a plain hash aggregate — all scale-free. The quadratic
object (host×host matrix) is only ever materialized as the *sparse* edge
group-by, never as a cross join.

The integer rank family (PageRank, TrustRank, the persisted rank ladder,
its delta fold, batched personalized PageRank) is ONE recurrence that
differs only in its teleport term. Each call collapses the edge list once
into a weighted host adjacency (:func:`rank_adjacency`: pair multiplicity,
source out-degree, one zero-weight self row per host carrying the teleport
weight), and every iteration is one join + one aggregate over it
(:func:`rank_step`). That is exact against the per-edge recurrence the
DuckDB oracles replay: k duplicate edges sum to k · (rank div out_deg) in
integer arithmetic, and the self rows add 0 — they only keep every host
alive through the aggregate.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ocr_platform_spark.operators.partitioning import host_of

_EDGES_DDL = "src_url string, dst_url string"


def extract_outlinks(docs: DataFrame) -> DataFrame:
    """documents(url, html, ...) → one row per resolved outlink
    (src_url, dst_url), Arrow-batched; column-pruned to (url, html)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_platform_spark.kernels.links import extract_links  # executor import

        for pdf in batches:
            src: list[str] = []
            dst: list[str] = []
            for url, html in zip(pdf["url"], pdf["html"]):
                for link in extract_links(url, bytes(html) if html is not None else b""):
                    src.append(url)
                    dst.append(link)
            yield pd.DataFrame({"src_url": src, "dst_url": dst})

    return docs.select("url", "html").mapInPandas(kernel, _EDGES_DDL)


def host_edges(links: DataFrame) -> DataFrame:
    """(src_host, dst_host) projection of the edge list."""
    return links.select(
        host_of("src_url").alias("src_host"), host_of("dst_url").alias("dst_host")
    )


def host_degree_stats(edges: DataFrame) -> DataFrame:
    """Per-host out-degree / distinct-target rollup over host edges."""
    return (
        edges.groupBy("src_host")
        .agg(
            F.count("*").alias("n_links"),
            F.countDistinct("dst_host").alias("n_dst_hosts"),
        )
        .orderBy(F.desc("n_links"), "src_host")
    )


def _materialize(df: DataFrame, name: str, checkpoint_dir: str | None) -> DataFrame:
    """Cut ``df``'s lineage: ``localCheckpoint`` by default, or a parquet
    table under ``checkpoint_dir`` (durable across executor loss, bounded
    memory) — bit-identical rows either way (pinned in tests)."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True)
    path = f"{checkpoint_dir}/{name}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def rank_adjacency(
    edges: DataFrame,
    teleport_hosts: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    name: str = "adjacency",
) -> tuple[DataFrame, int, int]:
    """The WEIGHTED host adjacency every integer rank variant iterates over,
    built and materialized once per call → ``(adj, n_hosts, n_teleport)``.

    ``adj`` is (src_host, dst_host, mult, out_deg, tele): one row per
    distinct host pair with ``mult = count(*)`` of its edge rows and
    ``out_deg = Σ mult`` of its source (= the raw edge count), plus one
    zero-weight SELF row ``(h, h, 0, 1, tele)`` per host. Self rows keep
    every host alive through the step's inner join + aggregate (no
    ``hosts`` left join) and carry the teleport weight: ``tele = 1`` on the
    self rows of teleport targets (every host, or only hosts named in
    ``teleport_hosts``' first column — the TrustRank seeds), 0 elsewhere.
    ``n_hosts`` counts self rows, ``n_teleport`` the teleport targets."""
    hosts = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    if teleport_hosts is None:
        hosts = hosts.withColumn("tele", F.lit(1).cast("long"))
    else:
        targets = teleport_hosts.select(
            F.col(teleport_hosts.columns[0]).alias("host")
        ).distinct()
        hosts = hosts.join(
            targets.withColumn("_t", F.lit(1).cast("long")), "host", "left"
        ).select("host", F.coalesce("_t", F.lit(0).cast("long")).alias("tele"))
    pairs = edges.groupBy("src_host", "dst_host").agg(F.count("*").alias("mult"))
    adj = _materialize(
        pairs.select(
            "src_host",
            "dst_host",
            "mult",
            F.sum("mult").over(Window.partitionBy("src_host")).alias("out_deg"),
            F.lit(0).cast("long").alias("tele"),
        ).unionByName(
            hosts.select(
                F.col("host").alias("src_host"),
                F.col("host").alias("dst_host"),
                F.lit(0).cast("long").alias("mult"),
                F.lit(1).cast("long").alias("out_deg"),
                "tele",
            )
        ),
        name,
        checkpoint_dir,
    )
    counts = adj.where("mult = 0").agg(F.count("*"), F.sum("tele")).first()
    return adj, counts[0], counts[1] or 0


def rank_step(
    adj: DataFrame,
    ranks: DataFrame,
    damping_pct: int,
    base: int,
    group: str | None = None,
) -> DataFrame:
    """One iteration of the integer rank recurrence over :func:`rank_adjacency`
    — ONE join and ONE aggregate, the shape of the oracle CTEs'
    ``pr ⋈ e2 GROUP BY dst``:

        rank'(g, h) = teleport(g, h) + (d · Σ mult · (rank div out_deg)) div 100
        teleport(g, h) = base · tele(h)   ([h = g]-gated when ``group`` is set)

    ``ranks`` is (host, rank), or (group, host, rank) with ``group`` the PPR
    seed column. Exact against the per-edge recurrence: k duplicate edge
    rows contribute Σ_k (r div deg) = k · (r div deg) in integer arithmetic,
    and self rows add 0 to the sum, so ranks and row sets are bit-identical
    to summing over the raw url-grain edge list."""
    keys = [group] if group else []
    agg = (
        adj.join(ranks.withColumnRenamed("host", "src_host"), "src_host")
        .groupBy(*keys, "dst_host")
        .agg(
            F.sum(F.expr("mult * (rank div out_deg)")).alias("inc"),
            F.sum("tele").alias("tele"),
        )
    )
    tele = F.col("tele") * base
    if group:
        tele = F.when(F.col("dst_host") == F.col(group), tele).otherwise(F.lit(0))
    return agg.select(
        *keys,
        F.col("dst_host").alias("host"),
        (tele + F.expr(f"({damping_pct} * inc) div 100")).cast("long").alias("rank"),
    )


def _integer_rank(
    edges: DataFrame,
    teleport_hosts: DataFrame | None,
    iterations: int,
    damping_pct: int,
    scale: int,
    checkpoint_dir: str | None,
    prefix: str,
    convergence_delta: int | None = None,
    metrics_out: dict | None = None,
    levels: list | None = None,
) -> DataFrame:
    """The shared loop of :func:`host_pagerank`, :func:`host_trustrank`
    and :func:`host_pagerank_states`: the teleport mass
    ``(100-damping_pct)·scale div 100`` and the start vector's ``scale`` are
    each split evenly (floor div) over the teleport targets. Lineage is cut
    every 3 iterations (each eager checkpoint is its own job), every
    iteration when ``convergence_delta`` is set (the delta aggregate would
    otherwise re-run the iteration) or when ``levels`` collects the
    per-iteration tables."""
    adj, _, n_tele = rank_adjacency(
        edges, teleport_hosts, checkpoint_dir, f"{prefix}adjacency"
    )
    if metrics_out is not None:
        metrics_out.update({"iterations_run": 0, "converged": False})
    self_rows = adj.where("mult = 0").select(F.col("src_host").alias("host"), "tele")
    if n_tele == 0:
        zero = self_rows.select("host", F.lit(0).cast("long").alias("rank"))
        if levels is not None:
            levels.extend(zero for _ in range(iterations + 1))
        return zero
    base = ((100 - damping_pct) * scale // 100) // n_tele
    ranks = self_rows.select(
        "host", (F.col("tele") * (scale // n_tele)).cast("long").alias("rank")
    )
    if levels is not None:
        ranks = _materialize(ranks, f"{prefix}ranks-0000", checkpoint_dir)
        levels.append(ranks)
    for i in range(iterations):
        new_ranks = rank_step(adj, ranks, damping_pct, base)
        if (
            convergence_delta is not None
            or levels is not None
            or (i + 1) % 3 == 0
            or i == iterations - 1
        ):
            new_ranks = _materialize(new_ranks, f"{prefix}ranks-{i + 1:04d}", checkpoint_dir)
        if levels is not None:
            levels.append(new_ranks)
        converged = convergence_delta is not None and (
            ranks.alias("o")
            .join(new_ranks.alias("n"), "host")
            .agg(F.sum(F.abs(F.col("n.rank") - F.col("o.rank"))))
            .first()[0]
            or 0
        ) <= convergence_delta
        ranks = new_ranks
        if metrics_out is not None:
            metrics_out.update({"iterations_run": i + 1, "converged": converged})
        if converged:
            break
    return ranks


def host_pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping_pct: int = 85,
    scale: int = 10**9,
    convergence_delta: int | None = None,
    checkpoint_dir: str | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Deterministic INTEGER PageRank over the host graph.

    Floating-point PageRank sums are order-dependent (partial aggregation
    order varies run to run), which breaks both cross-run and cross-engine
    determinism. This variant keeps every quantity an exact integer in
    fixed-point 'rank units' (``scale`` total mass):

        contrib(e)   = rank(src) div out_degree(src)        (floor div)
        rank'(h)     = base + (damping_pct * Σ contrib) div 100
        base         = ((100-damping_pct) * scale div 100) div n_hosts

    Floor-division remainders leak a little mass per iteration (documented
    trade — ranking order is what matters, and the leak is bounded by
    n_edges per iteration); dangling hosts' mass is dropped the same way.
    Because every step is integer arithmetic, ANY engine that replays the
    same recurrence over the same edges reproduces the ranks bit-for-bit —
    the catalog query's DuckDB oracle does exactly that with a recursive
    CTE (queries.py ``host_pagerank``).

    The edge list is collapsed ONCE into the weighted
    :func:`rank_adjacency` (pair multiplicities + per-host self rows), so
    each iteration is one join + one aggregate (:func:`rank_step`) over a
    pair-grain table instead of three joins over the url-grain edge rows;
    the sum over k duplicate edges is k · (rank div out_deg) exactly, so
    the ranks are the per-edge recurrence's bit for bit. Lineage control:
    ``localCheckpoint`` every 3 iterations by default; pass
    ``checkpoint_dir`` to write the adjacency and rank tables to parquet
    instead (bit-identical ranks, pinned in tests).

    ``convergence_delta`` (rank units) enables early exit: stop when the
    L1 rank change of an iteration is ≤ the threshold. Disabled by default
    so fixed-iteration replays (the DuckDB recursive-CTE oracle) stay
    bit-exact. ``metrics_out``, if given, receives ``iterations_run`` and
    ``converged``."""
    return _integer_rank(
        edges, None, iterations, damping_pct, scale, checkpoint_dir, "",
        convergence_delta=convergence_delta, metrics_out=metrics_out,
    ).orderBy(F.desc("rank"), "host")


def host_trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 10,
    damping_pct: int = 85,
    scale: int = 10**9,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Deterministic INTEGER TrustRank (Gyöngyi et al., "Combating Web
    Spam with TrustRank"): PageRank whose teleport mass lands ONLY on a
    trusted seed set, so authority flows outward from vetted hosts and
    spam clusters far from any seed starve — the standard crawl-frontier /
    spam-demotion companion to plain PageRank.

    Same exact-integer recurrence and the same :func:`rank_adjacency` /
    :func:`rank_step` pair as :func:`host_pagerank`, with the teleport
    weight on the seeds' self rows only:

        base(h) = ((100-damping_pct)·scale div 100) div n_seeds  if h ∈ seeds
                  0                                              otherwise
        rank'(h) = base(h) + (damping_pct · Σ contrib) div 100

    Initial mass sits entirely on the seeds (scale div n_seeds each).
    Replayable bit-for-bit by a recursive CTE (catalog ``host_trustrank``);
    seeds not present in the graph are ignored, and with none left every
    rank is 0."""
    return _integer_rank(
        edges, seeds, iterations, damping_pct, scale, checkpoint_dir, "tr-"
    ).orderBy(F.desc("rank"), "host")


def host_spam_mass(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 10,
    damping_pct: int = 85,
    scale: int = 10**9,
    threshold_ppm: int = 700_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Relative SPAM MASS per host (Gyöngyi et al., "Link Spam Detection
    Based on Mass Estimation"): the share of a host's PageRank that does
    NOT flow from the trusted seed set —

        spam_mass_ppm(h) = max(pagerank(h) − trustrank(h), 0) · 10^6
                             div pagerank(h)

    A host whose rank comes almost entirely from unvetted (spam-farm)
    neighborhoods scores near 10^6; a host reachable from the seeds scores
    near 0. This is the demotion signal a crawl-quality pipeline combines
    with :func:`host_quality_rollup`-style content scores; ``spam_flag``
    applies the paper's high-mass cut (``threshold_ppm``).

    Composition, not a new recurrence: both :func:`host_pagerank` and
    :func:`host_trustrank` run on the SAME edge list (each
    iteration-invariant table materialized once inside them), then one
    host-dimension join + integer arithmetic. The difference is clamped at
    0 BEFORE the division so the floor-division is over non-negative
    integers — Spark ``div`` truncates toward zero while DuckDB ``//``
    floors, and the two disagree only on negatives. All-integer, replayed
    bit-for-bit by the catalog oracle's twin recursive CTEs."""
    pr = host_pagerank(
        edges,
        iterations=iterations,
        damping_pct=damping_pct,
        scale=scale,
        checkpoint_dir=checkpoint_dir,
    ).withColumnRenamed("rank", "pr_rank")
    tr = host_trustrank(
        edges,
        seeds,
        iterations=iterations,
        damping_pct=damping_pct,
        scale=scale,
        checkpoint_dir=checkpoint_dir,
    ).withColumnRenamed("rank", "tr_rank")
    spam_ppm = (
        F.when(
            F.col("pr_rank") > 0,
            F.expr("(greatest(pr_rank - tr_rank, CAST(0 AS BIGINT)) * 1000000) div pr_rank"),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    return (
        pr.join(tr, "host")
        .select(
            "host",
            "pr_rank",
            "tr_rank",
            spam_ppm.alias("spam_mass_ppm"),
        )
        .withColumn("spam_flag", F.col("spam_mass_ppm") >= threshold_ppm)
        .orderBy(F.desc("spam_mass_ppm"), "host")
    )


def host_hits(
    edges: DataFrame,
    iterations: int = 8,
    scale: int = 10**6,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Deterministic INTEGER HITS (Kleinberg hubs & authorities) over the
    host graph — the companion authority signal to :func:`host_pagerank`
    (seed selection and spam-farm detection read the hub/authority split;
    PageRank alone cannot separate "points at good pages" from "is a good
    page").

    All-integer recurrence, fixed ``iterations``, replayable bit-for-bit
    by any engine (the catalog oracle is a DuckDB recursive CTE):

        a_raw(v) = Σ_{u→v} h(u)            (edge multiplicity kept)
        a(v)     = a_raw(v) div max(1, (Σ a_raw) div scale)
        h_raw(u) = Σ_{u→v} a(v)
        h'(u)    = h_raw(u) div max(1, (Σ h_raw) div scale)

    The ``div max(1, total div scale)`` step is integer L1 normalization:
    each vector is rescaled to ~``scale`` total mass (floor-division
    remainders leak a little mass, same documented trade as PageRank; a
    value floored to 0 stays 0, so prefer few iterations on skewed graphs
    — the ranking head is stable after 3-4). With ``scale`` ≤ 10^8 the
    raw sums stay below ~2·10^18 even at 10^10 edges — no int64 overflow.
    Each phase MATERIALIZES its normalized vector (localCheckpoint or
    parquet): the total's aggregate branch re-evaluates its input, and
    without the cut that doubling compounds exponentially across
    phases."""
    hosts = _materialize(
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct(),
        "hits-hosts",
        checkpoint_dir,
    )
    n_hosts = hosts.count()
    if n_hosts == 0:
        return hosts.select(
            "host", F.lit(0).cast("long").alias("hub"), F.lit(0).cast("long").alias("authority")
        )
    e = _materialize(edges.select("src_host", "dst_host"), "hits-edges", checkpoint_dir)
    state = hosts.select(
        "host",
        F.lit(scale // n_hosts).cast("long").alias("hub"),
        F.lit(0).cast("long").alias("authority"),
    )

    def _norm(raw: DataFrame, col: str, name: str) -> DataFrame:
        # the total's aggregate branch re-evaluates ``raw``, so each phase
        # MATERIALIZES its normalized vector — without this the doubling
        # compounds across phases (2^phases plan blowup)
        tot = raw.agg(F.sum(col).alias("_tot"))
        return _materialize(
            raw.crossJoin(F.broadcast(tot)).select(
                "host",
                F.expr(f"{col} div greatest(1L, _tot div {scale})")
                .cast("long")
                .alias(col),
            ),
            name,
            checkpoint_dir,
        )

    for i in range(iterations):
        a_raw = hosts.join(
            e.join(state.select("host", "hub"), e.src_host == F.col("host"))
            .groupBy("dst_host")
            .agg(F.sum("hub").alias("a_raw"))
            .withColumnRenamed("dst_host", "h2"),
            hosts.host == F.col("h2"),
            "left",
        ).select("host", F.coalesce("a_raw", F.lit(0)).cast("long").alias("a_raw"))
        a = _norm(
            a_raw.withColumnRenamed("a_raw", "authority"), "authority",
            f"hits-a-{i + 1:04d}",
        )
        h_raw = hosts.join(
            e.join(a, e.dst_host == F.col("host"))
            .groupBy("src_host")
            .agg(F.sum("authority").alias("h_raw"))
            .withColumnRenamed("src_host", "h2"),
            hosts.host == F.col("h2"),
            "left",
        ).select("host", F.coalesce("h_raw", F.lit(0)).cast("long").alias("h_raw"))
        h = _norm(
            h_raw.withColumnRenamed("h_raw", "hub"), "hub", f"hits-h-{i + 1:04d}"
        )
        state = h.join(a, "host")
    return state.select("host", "hub", "authority").orderBy(
        F.desc("authority"), F.desc("hub"), "host"
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iterations: int = 6,
    early_exit: bool = False,
    checkpoint_dir: str | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """(id, comp) — connected components of the undirected pair graph by
    iterated min-label propagation; ``comp`` is the smallest node id
    reachable within ``iterations`` hops (= the true component id once the
    iteration count covers the graph diameter).

    This is the step after every near-dup pass: MinHash/SimHash emit PAIRS,
    but survivor selection needs CLUSTERS (A~B, B~C must collapse to one
    keeper even when A~C was never a candidate). Min-label propagation is
    the classic Spark shape for it:

        label(v) ← min(label(v), min over neighbours label(u))

    one join + one aggregate per iteration, exactly the PageRank loop above
    — labels only ever decrease, so the recurrence is monotone and replaying
    it for a FIXED iteration count is bit-deterministic in any engine. The
    catalog oracle (queries.py ``doc_dedup_clusters``) does precisely that
    with a DuckDB recursive CTE over the same staged pairs.

    Scale shape at 10^9 nodes: near-dup graphs are a forest of tiny
    clusters (diameter rarely above a few hops — bounded by the LSH band
    structure), so a fixed small iteration count converges; ``early_exit``
    adds a changed-label count per iteration and stops at fixpoint (leave
    it off for fixed-replay oracles). Each iteration shuffles on the node
    id only (two longs per row); lineage is truncated per iteration via
    ``localCheckpoint``, or durable parquet when ``checkpoint_dir`` is
    given (the executor-loss-safe variant, same answer — mirrors
    host_pagerank). For adversarial graphs with long chains, swap in
    alternating large-star/small-star rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — same join+agg primitive,
    logarithmic round count; not needed for the bounded-diameter dedup
    workload this serves.
    """

    def _truncate(df: DataFrame, it: int) -> DataFrame:
        return _materialize(df, f"labels-{it:04d}", checkpoint_dir)

    nodes = (
        pairs.select(F.col(id_a).alias("id"))
        .unionByName(pairs.select(F.col(id_b).alias("id")))
        .distinct()
    )
    # symmetrized edges + a self-loop per node: min over (neighbours ∪ self)
    # in ONE aggregate, so a node with no smaller neighbour keeps its label.
    # Materialized once — every iteration's join consumes it, and without
    # this each iteration re-derives the union/distinct from the pair list.
    edges = _materialize(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .unionByName(nodes.select(F.col("id").alias("src"), F.col("id").alias("dst"))),
        "cc-edges",
        checkpoint_dir,
    )
    # initial labels from the materialized self-loops (distinct-safe even
    # if the pair list carries explicit self-pairs)
    labels = (
        edges.where(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("comp"))
    )
    if metrics_out is not None:
        metrics_out.update({"iterations_run": 0, "converged": False})

    for i in range(iterations):
        new_labels = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("comp").alias("comp"))
            .withColumnRenamed("src", "id")
        )
        if early_exit:
            new_labels = _truncate(new_labels, i + 1)
            changed = (
                labels.alias("o")
                .join(new_labels.alias("n"), "id")
                .where(F.col("n.comp") != F.col("o.comp"))
                .count()
            )
            labels = new_labels
            if metrics_out is not None:
                metrics_out["iterations_run"] = i + 1
            if changed == 0:
                if metrics_out is not None:
                    metrics_out["converged"] = True
                break
        else:
            labels = new_labels
            if (i + 1) % 3 == 0 or i == iterations - 1:
                labels = _truncate(labels, i + 1)
            if metrics_out is not None:
                metrics_out["iterations_run"] = i + 1
    return labels


_ANCHOR_EDGES_DDL = "src_url string, dst_url string, anchor string"


def extract_outlink_anchors(docs: DataFrame) -> DataFrame:
    """documents(url, html, ...) → (src_url, dst_url, anchor) — one row per
    resolved outlink with its anchor text (kernels/links.py), Arrow-batched
    and column-pruned like :func:`extract_outlinks`. Anchor text is the
    classic off-page relevance/quality signal: what OTHER pages call a
    target (search ranking, spam phrase detection, title synthesis)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_platform_spark.kernels.links import (  # executor import
            extract_links_with_anchors,
        )

        for pdf in batches:
            src: list[str] = []
            dst: list[str] = []
            anchor: list[str] = []
            for url, html in zip(pdf["url"], pdf["html"]):
                for link, a in extract_links_with_anchors(
                    url, bytes(html) if html is not None else b""
                ):
                    src.append(url)
                    dst.append(link)
                    anchor.append(a)
            yield pd.DataFrame({"src_url": src, "dst_url": dst, "anchor": anchor})

    return docs.select("url", "html").mapInPandas(kernel, _ANCHOR_EDGES_DDL)


def triangle_counts(edges: DataFrame, a_col: str = "a", b_col: str = "b") -> DataFrame:
    """(host, degree, n_triangles, clustering_x1000) over an undirected
    host graph — triangle density separates organic neighborhoods from
    link spam (farms interlink into near-cliques; Becchetti et al. 2008
    use exactly this signal for web-spam demotion).

    Scale shape: the classic degree-ordered ORIENTATION (Suri &
    Vassilvitskii's MR triangle counting): each undirected edge points
    from the (degree, host)-smaller endpoint to the larger, so every
    triangle is enumerated exactly once from its smallest vertex and the
    wedge join's fan-out is bounded by the max ORIENTED out-degree —
    O(√m) on any graph — instead of the raw degree of the biggest hub.
    Without orientation a 10^6-degree hub contributes 10^12 wedges; with
    it, hubs sit on the receiving side of almost all their edges. Three
    hash joins on host keys; per-host counts come from exploding each
    triangle's three corners."""
    und = (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("u"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("h"))
        .unionAll(und.select(F.col("v").alias("h")))
        .groupBy("h")
        .agg(F.count("*").alias("degree"))
    )
    ranked = und.join(
        deg.select(F.col("h").alias("u"), F.col("degree").alias("du")), "u"
    ).join(deg.select(F.col("h").alias("v"), F.col("degree").alias("dv")), "v")
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    o = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("y"),
    )
    wedges = (
        o.select(F.col("x").alias("w_a"), F.col("y").alias("w_b"))
        .join(
            o.select(F.col("x").alias("w_b"), F.col("y").alias("w_c")),
            "w_b",
        )
    )
    tris = wedges.join(
        o.select(F.col("x").alias("w_a"), F.col("y").alias("w_c")),
        ["w_a", "w_c"],
    )
    per_host = (
        tris.select(F.explode(F.array("w_a", "w_b", "w_c")).alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        deg.join(per_host, "h", "left")
        .select(
            F.col("h").alias("host"),
            F.col("degree").cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        )
        .withColumn(
            "clustering_x1000",
            F.when(
                F.col("degree") >= 2,
                F.expr("(2000 * n_triangles) div (degree * (degree - 1))"),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )


def resolve_pointer_chains(
    decls: DataFrame,
    url_col: str = "url",
    canon_col: str = "canon",
    doublings: int = 3,
) -> DataFrame:
    """(url, final_url, n_hops, resolved) — follow rel=canonical (or
    redirect) declarations to their terminal target: canonical targets
    often declare canonicals of their own, so naive one-hop rewriting
    leaves chains (u → v → w) half-collapsed, and declaration CYCLES
    (u → v → u) must surface as unresolved rather than loop forever.

    Scale shape: POINTER DOUBLING — the step table S_k(u) = f^(2^k)(u)
    composes with itself each round (one equi-join on the current
    target), so a hop budget of 2^doublings costs ``doublings`` shuffle
    joins instead of 2^doublings sequential ones; distances ride along as
    d_{k+1} = d_k(u) + d_k(S_k(u)), which telescopes to
    min(2^k, dist-to-root) because a root contributes 0. After the last
    round, ``resolved`` checks the landing point is a fixed point of f —
    cycle members and over-deep chains fail it. The DuckDB oracle
    resolves the SAME budget one hop at a time (a different algorithm
    reaching the same composition f^(2^k)), which cross-checks the
    doubling algebra, not just the arithmetic."""
    u, c = F.col(url_col), F.col(canon_col)
    nodes = (
        decls.select(u.alias("n"))
        .unionAll(decls.select(c.alias("n")))
        .distinct()
    )
    nxt = nodes.join(
        decls.select(u.alias("n"), c.alias("_c")), "n", "left"
    ).select("n", F.coalesce("_c", F.col("n")).alias("p"))
    s = nxt.select(
        "n", "p", F.when(F.col("p") == F.col("n"), 0).otherwise(1).cast("long").alias("d")
    )
    for _ in range(doublings):
        hop = s.select(F.col("n").alias("p"), F.col("p").alias("p2"), F.col("d").alias("d2"))
        s = s.join(hop, "p").select(
            "n", F.col("p2").alias("p"), (F.col("d") + F.col("d2")).alias("d")
        )
    term = nxt.select(F.col("n").alias("p"), (F.col("p") == F.col("n")).alias("resolved"))
    return s.join(term, "p").select(
        F.col("n").alias(url_col),
        F.col("p").alias("final_url"),
        F.col("d").cast("long").alias("n_hops"),
        "resolved",
    )


def seed_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "host",
    iterations: int = 6,
) -> DataFrame:
    """(host, dist) — multi-source BFS hop distance from a seed set over a
    DIRECTED host graph, the crawl-depth signal (frontier policies budget
    by distance-from-seeds: TrustRank's flow says WHO to trust, this says
    HOW FAR a crawl has wandered; unreachable hosts get dist = -1). Same
    monotone join+agg loop as connected_components — dist(v) ←
    min(dist(v), min over in-neighbours dist(u)+1), labels only decrease,
    so a FIXED iteration count (the hop budget) replays bit-exactly in
    any engine; lineage is truncated per iteration."""
    nodes = (
        edges.select(F.col(src_col).alias("id"))
        .unionByName(edges.select(F.col(dst_col).alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).distinct()
    e = e.localCheckpoint(eager=True)
    dist = (
        nodes.join(
            seeds.select(F.col(seed_col).alias("id")).distinct().withColumn(
                "_s", F.lit(0)
            ),
            "id",
            "left",
        )
        .select("id", F.col("_s").cast("long").alias("dist"))
    )
    for it in range(iterations):
        stepped = (
            dist.where(F.col("dist").isNotNull())
            .join(e, dist.id == e.src)
            .select(F.col("dst").alias("id"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(stepped)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist.select(
        F.col("id").alias(seed_col), F.coalesce("dist", F.lit(-1)).cast("long").alias("dist")
    )


def spam_host_blocklist(
    edges: DataFrame,
    src_col: str = "src_url",
    dst_col: str = "dst_url",
    min_shared: int = 10,
    min_jaccard_x1000: int = 600,
    min_degree: int = 3,
    min_clustering_x1000: int = 800,
) -> DataFrame:
    """The operational HOST BLOCKLIST over a (src_url, dst_url) edge list
    — two independent spam geometries fused into one verdict table
    (host, degree, clustering_x1000, farm_coupled, clique_dense,
    is_blocked):

    (a) bibliographic-coupling FARM pairs: hosts sharing ≥ ``min_shared``
        outlink urls at Jaccard ≥ ``min_jaccard_x1000``/1000 (integer
        arithmetic; a promo slate pushed by many doorway hosts);
    (b) near-CLIQUE interlinking: local clustering ≥
        ``min_clustering_x1000``/1000 at degree ≥ ``min_degree`` over the
        undirected host graph (:func:`triangle_counts` — degree-ordered
        orientation, O(√m) wedge fan-out).

    Each geometry catches what the other is blind to: a star farm has
    zero triangles; a clique with per-pair landing pages shares no
    outlink targets. One shared edge list feeds both so the signals
    cannot drift apart. The catalog query ``host_spam_blocklist`` and the
    funnel gate in plans/pipeline.corpus_refine_stages both consume this
    one implementation.

    Scale shape: hosts (not urls) are the grain everywhere past the
    first projection; the coupling self-join is on dst_url with the
    per-host outdegree sides broadcast (host-count-sized); triangle
    counting is the oriented wedge join. Nothing is corpus-sized."""
    from ocr_platform_spark.operators.partitioning import host_of

    e = (
        edges.select(
            host_of(src_col).alias("src_host"),
            host_of(dst_col).alias("dst_host"),
            F.col(dst_col).alias("dst_url"),
        )
        .where(F.col("src_host") != F.col("dst_host"))
        .distinct()
    )
    outs = e.select("src_host", "dst_url").distinct()
    osz = outs.groupBy("src_host").agg(F.count("*").alias("n"))
    oa = outs.select(F.col("src_host").alias("host_a"), "dst_url")
    ob = outs.select(F.col("src_host").alias("host_b"), "dst_url")
    coup = (
        oa.join(ob, "dst_url")
        .where(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").alias("n_shared"))
        .join(
            F.broadcast(
                osz.select(F.col("src_host").alias("host_a"), F.col("n").alias("n_a"))
            ),
            "host_a",
        )
        .join(
            F.broadcast(
                osz.select(F.col("src_host").alias("host_b"), F.col("n").alias("n_b"))
            ),
            "host_b",
        )
        .where(
            (F.col("n_shared") >= min_shared)
            & (
                F.expr("(1000 * n_shared) div (n_a + n_b - n_shared)")
                >= min_jaccard_x1000
            )
        )
    )
    farm_hosts = (
        coup.select(F.col("host_a").alias("host"))
        .unionAll(coup.select(F.col("host_b").alias("host")))
        .distinct()
        .withColumn("_f", F.lit(True))
    )
    tri = triangle_counts(
        e.select(F.col("src_host").alias("a"), F.col("dst_host").alias("b")), "a", "b"
    )
    clique = (F.col("degree") >= min_degree) & (
        F.col("clustering_x1000") >= min_clustering_x1000
    )
    return tri.join(F.broadcast(farm_hosts), "host", "left").select(
        "host",
        "degree",
        "clustering_x1000",
        F.col("_f").isNotNull().alias("farm_coupled"),
        clique.alias("clique_dense"),
        (F.col("_f").isNotNull() | clique).alias("is_blocked"),
    )


def host_pagerank_states(
    edges: DataFrame,
    iterations: int = 10,
    damping_pct: int = 85,
    scale: int = 10**9,
) -> list[DataFrame]:
    """The per-iteration rank tables ``[ranks_0, …, ranks_k]`` of
    :func:`host_pagerank` — the PERSISTED STATE a production run keeps
    (host-grain × k rows, e.g. as a partitioned Iceberg table keyed by
    iteration) so a later edge delta can be folded by
    :func:`host_pagerank_delta` without re-walking the whole graph.
    ``ranks_k`` is bit-identical to ``host_pagerank(edges, k)`` (same
    adjacency and step, every iteration checkpointed because the delta
    fold consumes each level twice)."""
    levels: list[DataFrame] = []
    _integer_rank(edges, None, iterations, damping_pct, scale, None, "", levels=levels)
    return levels


def host_pagerank_delta(
    edges: DataFrame,
    states: list[DataFrame],
    added: DataFrame | None = None,
    removed: DataFrame | None = None,
    damping_pct: int = 85,
    scale: int = 10**9,
    metrics_out: dict | None = None,
    states_out: list | None = None,
) -> DataFrame:
    """DELTA-PUSH maintenance of the fixed-iteration integer PageRank: fold
    an edge delta (``added`` rows; ``removed`` = (src_host, dst_host)
    PAIRS, every matching edge row goes) into a previous run's
    :func:`host_pagerank_states`, producing ranks BIT-IDENTICAL to
    ``host_pagerank(new_edges, k)`` — the ``events_hourly_incremental``
    monoid-state idea applied to a recurrence: instead of a mergeable
    aggregate, the persisted state is the per-iteration rank ladder, and
    the delta re-derives only the rungs the delta can reach.

    Per iteration i, only hosts whose rank CAN change are recomputed:

        touched_src(i)  = changed(i-1) ∪ S        (S = srcs of the delta)
        affected_dst(i) = out-neighbours of touched_src(i) ∪ dst(removed)
        changed(i)      = {h ∈ affected_dst(i) : new rank ≠ stored rank}

    Everything else provably keeps its stored rank (a rank differs at i
    only if an in-neighbour differed at i-1 or its in-edge set changed),
    so per-iteration EDGE work collapses from O(m) to O(edges touching
    the delta's i-hop out-neighbourhood) — the recrawl win: a small edge
    delta touches a shallow cone, not the web. The recompute is the
    shared :func:`rank_step` over the post-delta :func:`rank_adjacency`
    filtered to the affected destinations (their in-pairs plus their self
    rows, so every affected host comes back exactly once). The stored
    level is read once per iteration to diff the recomputed rows; the full
    output table is assembled ONCE at the end (stored ranks overlaid with
    the final changed set). All delta-sized frames broadcast.

    Falls back to a full :func:`host_pagerank` recompute when the delta
    changes the VERTEX set (a new or vanished host shifts the per-host
    base term ``(1-d)·scale/n`` and the uniform start vector, which
    perturbs every rank — no locality to exploit; real recrawl deltas
    between established hosts preserve the vertex set, and batch host
    arrivals are when production systems rebuild anyway).
    ``metrics_out`` receives ``fallback``, per-iteration
    ``affected_counts`` / ``changed_counts`` and ``n_hosts``.

    Pass ``states_out`` (a list) to ALSO receive the updated full ladder
    ``[ranks_0', …, ranks_k']`` — each level is the stored level with
    that iteration's changed set overlaid (a broadcast join, assembled
    lazily) — so a subsequent delta can fold against the post-delta state
    without a rebuild: the chained-fold contract (delta₂ over the updated
    ladder ≡ full recompute over both deltas) is pinned in
    tests/test_links.py. On fallback the ladder is rebuilt from scratch
    instead."""
    spark = edges.sparkSession
    iterations = len(states) - 1

    def _pairs(df: DataFrame | None) -> DataFrame:
        if df is None:
            return spark.createDataFrame([], "src_host string, dst_host string")
        return df.select("src_host", "dst_host")

    added, removed = _pairs(added), _pairs(removed)
    new_edges = edges.join(
        removed, ["src_host", "dst_host"], "left_anti"
    ).unionByName(added)
    adj, n_hosts_new, _ = rank_adjacency(new_edges)

    hosts_old = states[0].select("host")
    hosts_new = adj.where("mult = 0").select(F.col("src_host").alias("host"))
    n_hosts = hosts_old.count()
    vertex_drift = n_hosts != n_hosts_new or (
        hosts_new.join(hosts_old, "host", "left_anti").limit(1).count()
    )
    if vertex_drift:
        if metrics_out is not None:
            metrics_out["fallback"] = "vertex-set-changed"
        if states_out is not None:
            states_out.extend(
                host_pagerank_states(
                    new_edges, iterations=iterations,
                    damping_pct=damping_pct, scale=scale,
                )
            )
            return states_out[-1].orderBy(F.desc("rank"), "host")
        return host_pagerank(
            new_edges, iterations=iterations, damping_pct=damping_pct, scale=scale
        )
    if metrics_out is not None:
        metrics_out.update(
            {"fallback": None, "n_hosts": n_hosts,
             "affected_counts": [], "changed_counts": []}
        )

    base = ((100 - damping_pct) * scale // 100) // n_hosts
    out_pairs = adj.where("mult > 0").select("src_host", "dst_host")
    # the structural set S: srcs whose contribution routing or out_deg
    # changed — delta-sized, broadcast everywhere below
    s_hosts = (
        added.select(F.col("src_host").alias("host"))
        .unionByName(removed.select(F.col("src_host").alias("host")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rm_dst = removed.select(F.col("dst_host").alias("host")).distinct()

    def _overlay(level: DataFrame, chg: DataFrame) -> DataFrame:
        return level.join(
            F.broadcast(chg.select("host", F.col("rank").alias("_new"))),
            "host",
            "left",
        ).select("host", F.coalesce("_new", "rank").cast("long").alias("rank"))

    # ranks_0 is the uniform start vector — identical old/new (same hosts)
    changed = spark.createDataFrame([], "host string, rank long").localCheckpoint(
        eager=True
    )
    if states_out is not None:
        states_out.append(states[0])
    for i in range(1, iterations + 1):
        touched = (
            changed.select("host").unionByName(s_hosts).distinct()
        )
        affected = (
            out_pairs.join(
                F.broadcast(touched.withColumnRenamed("host", "src_host")),
                "src_host",
                "left_semi",
            )
            .select(F.col("dst_host").alias("host"))
            .unionByName(rm_dst)
            .distinct()
            .localCheckpoint(eager=True)
        )
        in_adj = adj.join(
            F.broadcast(affected.withColumnRenamed("host", "dst_host")),
            "dst_host",
            "left_semi",
        )
        recomputed = rank_step(in_adj, _overlay(states[i - 1], changed), damping_pct, base)
        changed = (
            recomputed.alias("n")
            .join(states[i].alias("o"), "host")
            .where(F.col("n.rank") != F.col("o.rank"))
            .select("host", F.col("n.rank").alias("rank"))
            .localCheckpoint(eager=True)
        )
        if metrics_out is not None:
            metrics_out["affected_counts"].append(affected.count())
            metrics_out["changed_counts"].append(changed.count())
        if states_out is not None:
            states_out.append(_overlay(states[i], changed))
    final = _overlay(states[iterations], changed)
    return final.orderBy(F.desc("rank"), "host")


def host_ppr(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 6,
    damping_pct: int = 85,
    scale: int = 10**9,
) -> DataFrame:
    """BATCHED personalized PageRank: one integer recurrence per seed
    host, all seeds advanced together through ONE join per iteration —
    (seed, host, rank) with teleport mass restarting entirely at the seed:

        rank_0(s, h)  = scale if h = s else 0
        rank'(s, h)   = [h = s]·((100-d)·scale div 100)
                        + (d · Σ_{src→h} rank(s, src) div out_deg(src)) div 100

    The per-seed vectors are the topic-conditioned authority signal a
    crawler uses to prioritize hosts near trusted hubs (Haveliwala's
    topic-sensitive PageRank; same integer discipline, adjacency and step
    as :func:`host_pagerank`, so any engine replaying the recurrence
    matches bit-for-bit — the catalog oracle does, with seed carried as a
    column of the recursive CTE).

    Scale shape: ``seeds`` is hub-count-sized and broadcast into the
    start vector, the dense seed × host grid; each iteration is one
    :func:`rank_step` with the seed riding along as the group column
    (k seeds cost one pass over k·m join rows, not k passes), and the
    adjacency's self rows keep every grid cell alive. State is
    (n_seeds × n_hosts) rows — bounded by the hub list, not the corpus."""
    adj, _, _ = rank_adjacency(edges)
    seeds = F.broadcast(seeds.select(F.col(seeds.columns[0]).alias("seed")).distinct())
    ranks = (
        adj.where("mult = 0")
        .select(F.col("src_host").alias("host"))
        .crossJoin(seeds)
        .select(
            "seed",
            "host",
            F.when(F.col("host") == F.col("seed"), F.lit(scale))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("rank"),
        )
        .localCheckpoint(eager=True)
    )
    base = (100 - damping_pct) * scale // 100
    for i in range(iterations):
        ranks = rank_step(adj, ranks, damping_pct, base, group="seed")
        if (i + 1) % 3 == 0 or i == iterations - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.orderBy("seed", F.desc("rank"), "host")
