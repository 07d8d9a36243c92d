"""Connected-components correctness vs a driver-side union-find oracle.

Mirrors the reference's hand-computed-golden test style
(``/root/reference/test/max_product_test.py``) plus randomized graphs for
the scale paths (chain = transitivity, star = skew, random = convergence)
per FIXTURES.md §7.
"""

import math
import random

import pytest
from pyspark.sql import Row

from entity_linking_spark.operators import cluster
from entity_linking_spark.operators.cluster import (
    LOCAL_MAX_EDGES,
    connected_components,
)


def _union_find(n_nodes, edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    # path-compress fully to the min representative
    return {x: find(x) for x in parent}


def _check(
    spark, edges, schema="src long, dst long", bounds=(LOCAL_MAX_EDGES, 0),
    **cc_kwargs,
):
    """Labels equal the oracle's with the local finish at each of
    ``bounds``: by default once at the module's bound and once at 0, which
    sends every edge set through the star rounds."""
    df = spark.createDataFrame(edges, schema)
    exp = _union_find(None, edges)
    # union-find roots are the min of each component because union() always
    # parents the larger root — still normalize via a second pass
    comp_min = {}
    for node, root in exp.items():
        comp_min.setdefault(root, node)
        comp_min[root] = min(comp_min[root], node)
    exp_norm = {node: comp_min[root] for node, root in exp.items()}
    for bound in bounds:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cluster, "LOCAL_MAX_EDGES", bound)
            got = {
                _key(r["node"]): _key(r["component"])
                for r in connected_components(df, **cc_kwargs).collect()
            }
        assert got == exp_norm, bound


def _key(v):
    """A struct id as the tuple the oracle compares field by field."""
    return tuple(v) if isinstance(v, Row) else v


def test_chain(spark):
    _check(spark, [(i, i + 1) for i in range(20)])


def test_two_components_and_star(spark):
    edges = [(0, i) for i in range(1, 30)]  # star hub 0
    edges += [(100, 101), (101, 102), (103, 102)]
    _check(spark, edges)


def test_self_loops_and_dups(spark):
    _check(spark, [(1, 1), (1, 2), (2, 1), (2, 3), (5, 5)])


def test_empty_edge_set(spark):
    _check(spark, [])


def test_null_ends(spark):
    # an edge with one null end leaves its other end a node, a null-null
    # edge leaves nothing: both paths return the same rows, none null
    df = spark.createDataFrame(
        [(1, None), (None, None), (2, 3), (None, 4), (4, 5)], "src long, dst long"
    )
    for bound in (LOCAL_MAX_EDGES, 0):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cluster, "LOCAL_MAX_EDGES", bound)
            got = [tuple(r) for r in connected_components(df).collect()]
        assert len(got) == 5, (bound, got)
        assert set(got) == {(1, 1), (2, 2), (3, 2), (4, 4), (5, 4)}, bound


def test_signed_ids(spark):
    # components take the minimum id in signed order, on both paths
    _check(spark, [(-5, 3), (3, 2**62), (-(2**63), 7), (7, 2**63 - 1), (0, 0)])


def test_struct_ids(spark):
    # 128-bit working ids: struct<h1, h2>, ordered field by field (as
    # Spark's least orders structs), at both bounds
    rng = random.Random(5)
    ids = [(rng.randrange(-3, 3), rng.randrange(-(2**63), 2**63)) for _ in range(40)]
    edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(50)]
    _check(
        spark, edges,
        "src struct<h1: bigint, h2: bigint>, dst struct<h1: bigint, h2: bigint>",
    )


@pytest.mark.parametrize(
    "seed,n_nodes,n_edges",
    [(42, 300, 250), (1, 300, 100), (2, 300, 300), (3, 200, 600), (4, 60, 400)],
)
def test_random_graph(spark, seed, n_nodes, n_edges):
    # sparse (many small trees) through dense (one component): the
    # star-forest stop must agree with the union-find oracle at every density
    rng = random.Random(seed)
    edges = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
    ]
    _check(spark, [(a, b) for a, b in edges if a != b])


@pytest.mark.parametrize(
    "edges",
    [
        [(5, 1), (5, 2)],  # a leaf with two roots
        [(10, 1), (10, 2), (10, 3)],  # a hub larger than its leaves
    ],
    ids=["leaf_two_roots", "hub_above_leaves"],
)
def test_near_stars_not_accepted(spark, edges):
    from entity_linking_spark.operators.cluster import _is_star_forest

    df = spark.createDataFrame(edges, "src long, dst long")
    assert not _is_star_forest(df)
    _check(spark, edges)


def test_star_forest_accepted(spark):
    from entity_linking_spark.operators.cluster import _is_star_forest

    # either orientation of a child → root edge is accepted
    edges = [(5, 1), (1, 7), (9, 2), (3, 2)]
    assert _is_star_forest(spark.createDataFrame(edges, "src long, dst long"))


def _count_rounds(spark, monkeypatch, edges):
    calls = {"n": 0}
    small_star = cluster._small_star

    def counting(e):
        calls["n"] += 1
        return small_star(e)

    monkeypatch.setattr(cluster, "_small_star", counting)
    # bound 0: the star rounds label every edge set
    _check(spark, edges, bounds=(0,), fuse_rounds=1)
    return calls["n"]


def test_path_converges_in_one_round(spark, monkeypatch):
    # one star round turns 0-1-2 into the star {1→0, 2→0}; the loop must
    # stop on that probe instead of running another to confirm it
    assert _count_rounds(spark, monkeypatch, [(0, 1), (1, 2)]) == 1


@pytest.mark.parametrize("n", [512, 2048])
@pytest.mark.parametrize("shuffled", [False, True])
def test_chain_rounds_logarithmic(spark, monkeypatch, n, shuffled):
    # a chain is the worst case for diameter: the star rounds must still
    # contract it in O(log n), with no confirming round after the fixpoint
    ids = list(range(n))
    if shuffled:
        random.Random(n).shuffle(ids)
    edges = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    rounds = _count_rounds(spark, monkeypatch, edges)
    assert rounds <= math.ceil(math.log2(n)) + 1, rounds


def test_superseded_rounds_released(spark, monkeypatch):
    # only raw and the final edge set stay persisted (the lazy result reads
    # them): the persisted-RDD count a call leaves must not grow with the
    # number of rounds (counted by id: the ContextCleaner may drop older
    # frames meanwhile)
    monkeypatch.setattr(cluster, "LOCAL_MAX_EDGES", 0)
    jsc = spark.sparkContext._jsc

    def delta(n):
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "src long, dst long"
        )
        before = set(jsc.getPersistentRDDs().keys())
        out = connected_components(df)
        after = set(jsc.getPersistentRDDs().keys())
        assert out.count() == n
        return len(after - before)

    assert delta(2048) == delta(3)


def test_local_finish_jobs(spark, monkeypatch):
    # under the bound: the raw checkpoint and one gather job; at bound 0 a
    # 512-node chain takes a job per probe of the star rounds
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(511)], "src long, dst long"
    )

    def jobs():
        j0 = scheduler.nextJobId()
        assert len(connected_components(df).collect()) == 512
        return scheduler.nextJobId() - j0

    assert jobs() <= 3
    monkeypatch.setattr(cluster, "LOCAL_MAX_EDGES", 0)
    assert jobs() > 3


def test_singleton_nodes_kept(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    out = connected_components(df)
    assert out.count() == 2


def test_unconverged_warns(spark, monkeypatch):
    import warnings

    # bound 0: only the star rounds iterate, so only they can stop short
    monkeypatch.setattr(cluster, "LOCAL_MAX_EDGES", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "src long, dst long"
    )
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        connected_components(edges, max_iter=1).collect()
    assert any("fixpoint" in str(w.message) for w in rec)


def test_reliable_checkpoint_dir(spark, tmp_path, monkeypatch):
    # checkpoint_dir switches localCheckpoint → reliable checkpoint: the
    # result is identical and checkpoint files land under the given dir,
    # on the local finish and on the star rounds (bound 0), for a plain
    # path and a file:// URI
    import itertools
    import os

    edges = [(i, i + 1) for i in range(15)] + [(100, 101)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for bound, uri in itertools.product((LOCAL_MAX_EDGES, 0), (False, True)):
        monkeypatch.setattr(cluster, "LOCAL_MAX_EDGES", bound)
        ckdir = str(tmp_path / f"cc_ckpt{bound}_{uri}")
        given = f"file://{ckdir}" if uri else ckdir
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, checkpoint_dir=given).collect()
        }
        exp = {i: 0 for i in range(16)} | {100: 100, 101: 100}
        assert got == exp, (bound, uri)
        # reliable checkpoints were actually written to the shared dir
        found = [
            f for root, _, files in os.walk(ckdir) for f in files
        ]
        assert found, "no checkpoint files written to checkpoint_dir"
        # superseded round checkpoints are deleted (round-4 advice): only
        # the live set remains — raw + the final edge set — not O(rounds)
        # copies
        rdd_dirs = [
            d for root, dirs, _ in os.walk(ckdir) for d in dirs
            if d.startswith("rdd-")
        ]
        assert len(rdd_dirs) <= 2, rdd_dirs
        # the session checkpoint dir is handed back (no global clobber)
        opt = spark.sparkContext._jsc.sc().getCheckpointDir()
        assert not (opt.isDefined() and "cc_ckpt" in opt.get()), (
            "connected_components left its checkpoint dir set on the context"
        )


@pytest.mark.parametrize("fuse_rounds", [1, 2, 3])
@pytest.mark.parametrize("reliable", [False, True])
def test_fuse_rounds_parity(spark, tmp_path, fuse_rounds, reliable):
    # the documented 1-core-executor knob (operators/cluster.py fuse_rounds)
    # must be a pure performance choice: every fuse factor — with both the
    # localCheckpoint and reliable-checkpoint lineage truncation — yields
    # the identical component assignment on a graph mixing a chain
    # (worst-case diameter), a star (skew), self-loops and duplicates
    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(25)]          # chain
    edges += [(200, 200 + i) for i in range(1, 20)]  # star
    edges += [(3, 3), (10, 11), (11, 10)]            # self-loop + dups
    edges += [
        (rng.randrange(400, 450), rng.randrange(400, 450)) for _ in range(40)
    ]
    kwargs = {"fuse_rounds": fuse_rounds}
    if reliable:
        kwargs["checkpoint_dir"] = str(
            tmp_path / f"cc_fuse{fuse_rounds}"
        )
    _check(spark, [(a, b) for a, b in edges if a != b or a == 3], **kwargs)
