"""Entity linking, connected components, graph materialization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from project_discord_knowledge_graph_spark.operators.components import (
    connected_components,
)
from project_discord_knowledge_graph_spark.operators.entity import (
    canonicalize, extract_mentions, link_entities, lsh_candidate_pairs,
    score_pairs,
)
from project_discord_knowledge_graph_spark.operators.graph import (
    build_edges, build_nodes,
)


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")],
        ["src", "dst"])
    got = {(r.node, r.component)
           for r in connected_components(edges).collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a"),
                   ("d", "d"), ("e", "d"), ("f", "f")}


def test_connected_components_chain_converges(spark):
    # a long path graph stresses the iteration count
    n = 40
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n)], ["src", "dst"])
    comps = connected_components(edges).collect()
    assert {r.component for r in comps} == {"n00"}
    assert len(comps) == n + 1


def test_long_chain_converges(spark):
    # pathological diameter-300 path: min-label propagation would need
    # ~300 rounds; the alternating star algorithm must finish in
    # O(log^2 n) — well under 20 double-rounds empirically.
    # local_finish_threshold=0 pins the PURE alternating path (the
    # default hybrid would absorb a 300-edge graph instantly).
    n = 300
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["src", "dst"])
    labels, stats = connected_components(edges, return_stats=True,
                                         local_finish_threshold=0)
    comps = labels.collect()
    assert stats["converged"]
    assert not stats["local_finish"]
    assert stats["rounds"] <= 20
    assert {r.component for r in comps} == {0}
    assert len(comps) == n + 1


def test_nonconvergence_raises(spark):
    import pytest as _pytest
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], ["src", "dst"])
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1,
                             local_finish_threshold=0)


def test_local_finish_matches_pure_algorithm(spark):
    """Hybrid finisher contract: identical (node, component) labels
    to the pure alternating fixpoint, on a graph mixing chains,
    stars, singleton self-loops, and duplicate/reversed edges."""
    import random
    rng = random.Random(99)
    edges = []
    # 30 random components over 400 nodes
    nodes = list(range(400))
    rng.shuffle(nodes)
    for ci in range(30):
        members = nodes[ci * 13:(ci + 1) * 13]
        for a, b in zip(members, members[1:]):
            edges.append((a, b) if rng.random() < .5 else (b, a))
    edges.append((999, 999))          # self-loop singleton
    edges += edges[:10]               # duplicates
    df = spark.createDataFrame(edges, ["src", "dst"])

    pure = connected_components(df, local_finish_threshold=0)
    hyb, stats = connected_components(df, local_finish_threshold=10**6,
                                      return_stats=True)
    assert stats["local_finish"] and stats["converged"]
    assert stats["rounds"] == 0 and stats["residual_edges"] > 0
    assert sorted(map(tuple, hyb.collect())) == \
        sorted(map(tuple, pure.collect()))


def test_local_finish_after_rounds(spark):
    """Threshold between start size and fixpoint size: the hybrid
    runs real alternating rounds first (they do the volume work —
    a dense graph's edge list shrinks toward n_nodes-1), THEN hands
    the shrunken list to the finisher — and still matches the pure
    labels (string ids exercise lexicographic min)."""
    import random
    rng = random.Random(7)
    # dense: 2000 edges over 300 nodes -> fixpoint < 300 edges
    edges = spark.createDataFrame(
        [(f"n{rng.randrange(300):03d}", f"n{rng.randrange(300):03d}")
         for _ in range(2000)], ["src", "dst"])
    pure = connected_components(edges, local_finish_threshold=0)
    hyb, stats = connected_components(edges, local_finish_threshold=400,
                                      return_stats=True)
    assert stats["local_finish"] and stats["rounds"] >= 1
    assert 0 < stats["residual_edges"] <= 400
    assert sorted(map(tuple, hyb.collect())) == \
        sorted(map(tuple, pure.collect()))


@pytest.fixture(scope="module")
def mention_triples(spark):
    rows = [
        ("bitcoin", "mentions_asset", "BTC"),
        ("bitcoins", "mentions_asset", "BTC"),
        ("bitcoin", "mentions_asset", "ethereum"),
        ("covered call strategy", "recommends", "wheel strategy"),
        ("covered calls strategy", "recommends", "wheel strategies"),
        ("alpha", "discusses", "zzz_unrelated_entity"),
    ]
    return spark.createDataFrame(
        [(s, p, o, f"m{i}", "seg", "2024-01-01T00:00:00+00:00", 0.8)
         for i, (s, p, o) in enumerate(rows)],
        ["subject", "predicate", "object", "message_id", "segment_id",
         "timestamp", "confidence"])


def test_extract_mentions_counts(spark, mention_triples):
    m = {r.mention: r.n_occurrences
         for r in extract_mentions(mention_triples).collect()}
    assert m["bitcoin"] == 2  # subject twice
    assert m["btc"] == 2      # object twice (normalized lower)
    assert m["alpha"] == 1


def test_lsh_blocking_and_scoring(spark, mention_triples):
    mentions = extract_mentions(mention_triples)
    cands = lsh_candidate_pairs(mentions, jaccard_distance=0.6)
    scored = score_pairs(cands, min_jaccard=0.5)
    pairs = {(r.mention_a, r.mention_b) for r in scored.collect()}
    assert ("bitcoin", "bitcoins") in pairs
    assert ("covered call strategy", "covered calls strategy") in pairs
    # dissimilar strings must not pair
    assert not any("zzz_unrelated_entity" in p for pair in pairs
                   for p in pair)


def test_canonicalize_and_graph(spark, mention_triples):
    cmap = link_entities(mention_triples, jaccard_threshold=0.5)
    rows = {r.mention: r.canonical_id for r in cmap.collect()}
    # variants share a canonical id; the id is the lexicographic min
    assert rows["bitcoin"] == rows["bitcoins"] == "bitcoin"
    assert rows["alpha"] == "alpha"  # singleton maps to itself

    nodes = build_nodes(cmap)
    bitcoin_node = nodes.where(F.col("canonical_id") == "bitcoin").first()
    assert set(bitcoin_node.mentions) == {"bitcoin", "bitcoins"}

    edges = build_edges(mention_triples, cmap)
    e = edges.where(F.col("subject") == "bitcoins").first()
    assert e.src == "bitcoin"  # rekeyed to the canonical id
    assert edges.count() == mention_triples.count()


def test_extract_mentions_salt_spreads_head_mention(spark):
    """Review regression: the retry-deterministic salt must hash a
    row-VARYING column, not just the mention — hashing only the
    grouping key gives every occurrence of an identically-spelled
    head mention one salt (one reducer, the hot-spot the salt exists
    to break).  A 2000-occurrence head mention must both count
    correctly and spread over most of the salt space."""
    from project_discord_knowledge_graph_spark.operators.entity import (
        N_SALTS, extract_mentions,
    )

    triples = spark.range(2000).select(
        F.lit("BTC").alias("subject"),
        F.lit("asks_about").alias("predicate"),
        F.concat(F.lit("what about entry "), "id").alias("object"),
        F.concat(F.lit("m"), "id").alias("message_id"))
    m = {r.mention: r.n_occurrences
         for r in extract_mentions(triples).collect()}
    assert m["btc"] == 2000
    # the operator's own salt expression over this head mention
    spread = (triples.select(
        F.pmod(F.xxhash64(F.lit("btc"), "message_id"),
               F.lit(N_SALTS)).alias("s")).distinct().count())
    assert spread > N_SALTS // 2, (spread, N_SALTS)


def test_zipf_corpus_links_variants_not_strangers(spark):
    """The Zipf stress corpus (sources/synth_dist.zipf_triples_df)
    must exercise the linker realistically: (a) deterministic per
    (seed, id); (b) heavy head — the top mention absorbs well over
    the uniform share; (c) near-dup surface variants of one canonical
    merge under link_entities while DISTINCT canonicals never do
    (base-36 md5 names share too few trigrams); (d) the measured salt
    balance shows the head key spread across reducers."""
    from project_discord_knowledge_graph_spark.operators.entity import (
        N_SALTS, link_entities, salt_balance,
    )
    from project_discord_knowledge_graph_spark.sources.synth_dist import (
        zipf_triples_df,
    )

    t = zipf_triples_df(spark, 4000, n_entities=500, n_authors=100,
                        seed=7).persist()
    # determinism: same (seed, n) -> identical rows
    a = sorted(map(tuple, t.collect()))
    b = sorted(map(tuple, zipf_triples_df(
        spark, 4000, n_entities=500, n_authors=100, seed=7).collect()))
    assert a == b

    cmap = link_entities(t).persist()
    merged = cmap.where(F.col("mention") != F.col("canonical_id"))
    assert merged.count() > 0
    # every merge joins surface variants of the SAME base (the
    # canonical need not be the undecorated base — when the base form
    # was never drawn, a decorated variant sorts smallest): the two
    # strings must share a base under the generator's decorations
    def bases(s):
        out = {s}
        u = s.removeprefix("the ")
        out.add(u)
        if u.endswith("-inc"):
            out.add(u[:-4])
        if u.endswith("s"):
            out.add(u[:-1])
        return out

    for r in merged.collect():
        assert bases(r.mention) & bases(r.canonical_id), \
            (r.mention, r.canonical_id)

    # heavy head: top entity mention >> uniform share (4000/500 = 8)
    head = (cmap.orderBy(F.desc("n_occurrences")).first())
    assert head.n_occurrences > 40

    bal = salt_balance(t)
    assert bal["n_salts"] == N_SALTS
    assert bal["max_salted_reducer_rows"] < \
        bal["max_unsalted_reducer_rows"]
    # the head key's rows spread across most of the 16 salts
    assert bal["balance_ratio"] >= N_SALTS / 2
    t.unpersist()
    cmap.unpersist()


def test_banded_lsh_recall_and_bucket_cap(spark):
    """Native banded-MinHash blocking: (a) recall >= 0.9 of the exact
    all-pairs trigram-Jaccard >= 0.5 join on a corpus of near-dup
    variant clusters; (b) prunes-never-invents — the verified banded
    output is a subset of the exact join; (c) the bucket cap drops
    oversized common-token buckets and REPORTS them in stats."""
    from project_discord_knowledge_graph_spark.operators.entity import (
        lsh_candidate_pairs_banded, score_pairs,
    )
    from project_discord_knowledge_graph_spark.sources.synth_dist import (
        zipf_triples_df,
    )

    t = zipf_triples_df(spark, 6000, n_entities=800, n_authors=150,
                        seed=13)
    from project_discord_knowledge_graph_spark.operators.entity import (
        extract_mentions,
    )
    mentions = extract_mentions(t).persist()

    # exact ground truth: broadcast all-pairs + exact trigram Jaccard
    a = mentions.select(F.col("mention").alias("mention_a"))
    b = mentions.select(F.col("mention").alias("mention_b"))
    allp = (F.broadcast(a).crossJoin(b)
            .where(F.col("mention_a") < F.col("mention_b")))
    exact = {(r.mention_a, r.mention_b)
             for r in score_pairs(allp, 0.5).collect()}
    assert exact  # the corpus must actually contain near-dups

    cands = lsh_candidate_pairs_banded(mentions)
    got = {(r.mention_a, r.mention_b)
           for r in score_pairs(cands, 0.5).collect()}
    assert got <= exact                       # never invents
    assert len(got) / len(exact) >= 0.9       # recall gate

    # a degenerate corpus where EVERY mention shares one token: the
    # cap drops the hot buckets and says so
    hot = spark.range(600).select(
        F.concat(F.lit("the common shared corporate token "),
                 F.substring(F.md5(F.col("id").cast("string")), 1, 6))
         .alias("mention"),
        F.lit(1).alias("n_occurrences"))
    _, stats = lsh_candidate_pairs_banded(hot, bucket_cap=50,
                                          return_stats=True)
    assert stats["n_dropped_buckets"] > 0
    assert stats["max_bucket"] > 50
    mentions.unpersist()


def test_banded_minhash_pairs_repeatable(spark):
    """Min-hash j hashes every element with the literal '<seed>:<j>',
    so two builds over one input in one session give the same pairs.
    (A salt bound to F.transform's index variable instead hashed that
    variable's fresh name, which changes from build to build.)"""
    from project_discord_knowledge_graph_spark.operators.lsh import (
        banded_minhash_pairs,
    )
    # sliding windows of 10 tokens: neighbours at distance d have
    # Jaccard (10-d)/(10+d), so pair membership depends on the hashes
    sets = spark.range(300).select(
        F.col("id"),
        F.array(*[(F.col("id") + k).cast("string") for k in range(10)])
         .alias("toks")).persist()
    first = banded_minhash_pairs(sets, "id", "toks")
    again = banded_minhash_pairs(sets, "id", "toks")
    a = {(r.id_a, r.id_b) for r in first.collect()}
    assert a and a == {(r.id_a, r.id_b) for r in again.collect()}
    spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
    try:
        plan = first._jdf.queryExecution().analyzed().toString()
    finally:
        spark.conf.unset("spark.sql.debug.maxToStringFields")
    assert "42:0," in plan and "42:59," in plan and "Column<" not in plan
    sets.unpersist()
