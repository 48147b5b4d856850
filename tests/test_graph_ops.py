"""Semantics tests for graph feature operators on a tiny hand-checked
graph, plus Mahalanobis vs a direct numpy computation.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from anomaly_detector_faironchain_spark.operators import graph, mahalanobis

# edges: a→b (two transfers), b→a, a→c, c→b, b→c, d→d (self loop)
TRANSFERS = [
    ("a", "b", 10.0, 1), ("a", "b", 5.0, 2), ("b", "a", 7.0, 3),
    ("a", "c", 1.0, 4), ("c", "b", 2.0, 5), ("b", "c", 3.0, 6),
    ("d", "d", 9.0, 7),
]


@pytest.fixture(scope="module")
def edges(spark):
    df = spark.createDataFrame(TRANSFERS, "src string, dst string, amount double, ts long")
    return graph.aggregate_edges(df, "src", "dst", "amount", "ts").cache()


def test_edge_aggregation_collapses_parallel(edges):
    ab = edges.filter("src = 'a' AND dst = 'b'").collect()[0]
    assert ab.amount == 15.0 and ab.cnt == 2 and ab.first_ts == 1


def test_node_features(edges):
    nf = {r.node: r for r in graph.node_features(edges).collect()}
    assert nf["a"].out_degree == 2 and nf["a"].in_degree == 1
    assert nf["a"].total_output_amount == 16.0
    assert nf["a"].balance_proxy == 7.0 - 16.0
    assert nf["b"].in_transfer_count == 3  # 2 parallel a→b + 1 c→b


def test_self_loop(edges):
    flags = {r.node: r.has_self_loop for r in graph.self_loop_flag(edges).collect()}
    assert flags["d"] == 1 and flags["a"] == 0


def test_node_table_matches_plain_in_out_aggregations(spark):
    """node_table's one groupBy over both endpoint projections equals
    separate in/out groupBys plus the self-loop definition, on a random
    aggregated graph with self-loops, a self-loop-only node and a
    sink-only node."""
    import random

    rng = random.Random(5)
    rows = [(f"n{rng.randrange(25)}", f"n{rng.randrange(25)}",
             float(rng.randrange(1, 100)), i) for i in range(300)]
    rows += [("n3", "n3", 4.0, 900), ("loop_only", "loop_only", 2.0, 901),
             ("n1", "sink", 8.0, 902), ("n2", "sink", 1.0, 903)]
    e = graph.aggregate_edges(
        spark.createDataFrame(
            rows, "src string, dst string, amount double, ts long"),
        "src", "dst", "amount", "ts")
    inf = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree"),
        F.sum("cnt").alias("in_transfer_count"),
        F.sum("amount").alias("total_input_amount"))
    outf = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree"),
        F.sum("cnt").alias("out_transfer_count"),
        F.sum("amount").alias("total_output_amount"))
    loops = {r.src for r in e.filter("src = dst").select("src").collect()}
    want = {
        r.node: (r.in_degree, r.in_transfer_count, r.total_input_amount,
                 r.out_degree, r.out_transfer_count, r.total_output_amount,
                 r.total_input_amount - r.total_output_amount,
                 int(r.node in loops))
        for r in inf.join(outf, "node", "full_outer").na.fill(0).collect()
    }
    t = graph.node_table(e)
    assert t.columns == [
        "node", "in_degree", "in_transfer_count", "total_input_amount",
        "out_degree", "out_transfer_count", "total_output_amount",
        "balance_proxy", "has_self_loop"]
    got = {r.node: tuple(r)[1:] for r in t.collect()}
    assert got == want
    assert got["loop_only"] == (1, 1, 2.0, 1, 1, 2.0, 0.0, 1)
    assert got["sink"][3:6] == (0, 0, 0.0) and got["sink"][7] == 0
    assert graph.node_features(e).columns == t.columns[:-1]
    assert graph.self_loop_flag(e).columns == ["node", "has_self_loop"]


def _fused_rows(e, orientation="id"):
    return {r.node: r for r in
            graph.fused_motif_features(e, orientation=orientation).collect()}


def test_mutual_pairs(edges):
    mp = {n: r for n, r in _fused_rows(edges).items()
          if r.two_node_loop_count > 0}
    # mutual pairs: a⇄b and b⇄c
    assert set(mp) == {"a", "b", "c"}
    assert mp["a"].two_node_loop_count == 1
    assert mp["b"].two_node_loop_count == 2
    assert mp["a"].two_node_loop_amount == 15.0 + 7.0


def test_triangles(edges):
    # directed cycle a→b? no: cycles are a→c→b→a (a→c, c→b, b→a) ✓
    tf = {n: r for n, r in _fused_rows(edges).items() if r.triangle_count > 0}
    assert set(tf) == {"a", "b", "c"}
    assert all(tf[n].triangle_count == 1 for n in "abc")
    assert tf["a"].triangle_amount == 1.0 + 2.0 + 7.0


def test_egonet(edges):
    ego = _fused_rows(edges)
    # ego(a) = {a,b,c}; directed non-self edges within: a→b,b→a,a→c,c→b,b→c = 5
    assert ego["a"].ego_n == 3 and ego["a"].ego_m == 5
    assert ego["a"].ego_density == pytest.approx(5 / 6)
    assert ego["d"].ego_n == 1 and ego["d"].ego_m == 0


def test_mahalanobis_matches_numpy(spark):
    rng = np.random.RandomState(7)
    x = rng.normal(size=(200, 3)) * [1.0, 5.0, 0.3] + [0, 10, -2]
    rows = [(int(i), float(a), float(b), float(c)) for i, (a, b, c) in enumerate(x)]
    df = spark.createDataFrame(rows, "id long, f1 double, f2 double, f3 double")
    out = {r.id: r.d for r in mahalanobis.mahalanobis(
        df, ["f1", "f2", "f3"], "d").select("id", "d").collect()}
    mu = x.mean(axis=0)
    inv = np.linalg.inv(np.cov(x, rowvar=False))
    z = x - mu
    expect = np.sqrt(np.einsum("ij,jk,ik->i", z, inv, z))
    for i in range(200):
        assert out[i] == pytest.approx(expect[i], rel=1e-9)


def test_mahalanobis_drops_zero_variance(spark):
    rows = [(i, float(i % 7), 3.0) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, f1 double, f2 double")
    out = mahalanobis.mahalanobis(df, ["f1", "f2"], "d").collect()
    assert all(np.isfinite(r.d) for r in out)  # constant f2 excluded, no inversion blowup


def test_triangles_orientations_agree(spark):
    """Both total orders (id and degree) must count each directed cycle
    exactly once per participant. The degree order picks 'z' (degree 2,
    HIGHEST id) as the cycle's pivot while the id order picks 'x' —
    results must be identical anyway."""
    rows = [("x", "y", 1.0, 1), ("y", "z", 2.0, 2), ("z", "x", 4.0, 3)]
    # fan edges pump up deg(x) and deg(y) so z is degree-minimal
    rows += [("x", f"f{i}", 0.5, 10 + i) for i in range(5)]
    rows += [(f"g{i}", "y", 0.5, 20 + i) for i in range(5)]
    df = spark.createDataFrame(rows, "src string, dst string, amount double, ts long")
    e = graph.aggregate_edges(df, "src", "dst", "amount", "ts")
    for orientation in ("id", "degree"):
        tf = {n: r for n, r in _fused_rows(e, orientation).items()
              if r.triangle_count > 0}
        assert set(tf) == {"x", "y", "z"}
        assert all(tf[n].triangle_count == 1 for n in "xyz")
        assert tf["z"].triangle_amount == pytest.approx(7.0)
        assert tf["z"].triangle_tx == 3


def test_egonet_on_hub_graph(spark):
    """Hand-checked egonet on a hub-and-spoke graph with a spoke
    triangle, under both pivot orders."""
    rows = [("hub", f"s{i}", 1.0, i) for i in range(12)]
    rows += [(f"s{i}", "hub", 1.0, 100 + i) for i in range(6)]
    rows += [("s0", "s1", 1.0, 200), ("s1", "s2", 1.0, 201),
             ("s2", "s0", 1.0, 202)]
    df = spark.createDataFrame(rows, "src string, dst string, amount double, ts long")
    e = graph.aggregate_edges(df, "src", "dst", "amount", "ts")
    want = _motif_reference(e)
    for orientation in ("id", "degree"):
        got = _fused_rows(e, orientation)
        assert {n: (r.ego_n, r.ego_m, r.ego_density)
                for n, r in got.items()} == {n: w[2] for n, w in want.items()}
        # ego(s0) = {s0, hub, s1, s2}; edges within: hub->s0/s1/s2,
        # s0/s1/s2->hub, s0->s1, s1->s2, s2->s0 = 9
        assert (got["s0"].ego_n, got["s0"].ego_m) == (4, 9)
        # ego(s11) = {s11, hub}: only hub->s11
        assert (got["s11"].ego_n, got["s11"].ego_m) == (2, 1)


def test_egonet_matches_reference_on_random_multigraph(spark):
    """Random MULTIgraph with self-loops, duplicate rows (collapsed by
    aggregate_edges, the kernel's input contract), and a node whose only
    edge is a self-loop (ego size 1, m 0): the fused kernel's egonet
    equals the brute-force definition under both pivot orders."""
    import random

    rng = random.Random(7)
    rows = [(f"n{rng.randrange(40)}", f"n{rng.randrange(40)}", 1.0, i)
            for i in range(500)]
    rows += [("n0", "n0", 1.0, 900), ("lonely", "lonely", 1.0, 901)]
    rows += rows[:40]  # duplicate rows: parallel transfers
    e = graph.aggregate_edges(
        spark.createDataFrame(
            rows, "src string, dst string, amount double, ts long"),
        "src", "dst", "amount", "ts")
    want = {n: w[2] for n, w in _motif_reference(e).items()}
    for orientation in ("id", "degree"):
        got = {n: (r.ego_n, r.ego_m, r.ego_density)
               for n, r in _fused_rows(e, orientation).items()}
        assert got == want
    assert want["lonely"] == (1, 0, 0.0)


def _uf_components(edges):
    """Reference union-find over python tuples -> {id: min-of-component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for x in list(parent):
        comp.setdefault(find(x), []).append(x)
    out = {}
    for members in comp.values():
        lo = min(members)
        for m in members:
            out[m] = lo
    return out


def test_connected_components_known_shapes(spark):
    """Path, cycle, star, isolated self-loop, and two singletons joined
    late — labels are the order-minimal member everywhere."""
    edges = [
        ("a1", "a2"), ("a2", "a3"), ("a3", "a4"),          # path
        ("b1", "b2"), ("b2", "b3"), ("b3", "b1"),          # cycle
        ("c9", "c1"), ("c9", "c2"), ("c9", "c3"),          # star (hub=c9)
        ("d1", "d1"),                                       # self-loop only
        ("e2", "e1"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.id: r.component
           for r in graph.connected_components(df).collect()}
    assert got == {
        "a1": "a1", "a2": "a1", "a3": "a1", "a4": "a1",
        "b1": "b1", "b2": "b1", "b3": "b1",
        "c1": "c1", "c2": "c1", "c3": "c1", "c9": "c1",
        "d1": "d1",
        "e1": "e1", "e2": "e1",
    }


def test_connected_components_matches_union_find(spark):
    """Random sparse graph (long paths + cross links) vs a pure-python
    union-find: identical labeling, and convergence well under max_iter
    despite a diameter a label-propagation loop could not handle in the
    same round count."""
    import random

    rng = random.Random(7)
    edges = [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(0, 400)
             if i % 37 != 0]  # broken path -> many long chains
    edges += [(f"n{rng.randrange(500):04d}", f"n{rng.randrange(500):04d}")
              for _ in range(60)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.id: r.component
           for r in graph.connected_components(df, max_iter=12).collect()}
    assert got == _uf_components(edges)


def test_connected_components_empty(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert graph.connected_components(df).count() == 0


def test_pagerank_matches_dense_power_iteration(spark):
    """Random directed graph incl. a dangling node and a self-loop vs a
    numpy dense power iteration of the identical formula."""
    import random

    rng = random.Random(11)
    n = 40
    edges = {(f"v{rng.randrange(n):02d}", f"v{rng.randrange(n):02d}")
             for _ in range(120)}
    edges.add(("v38", "v39"))  # ensure v39 exists even if never a source
    edges = sorted(edges)
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.id: r.pagerank
           for r in graph.pagerank(df, n_iter=8).collect()}

    ids = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(ids)}
    nn = len(ids)
    out = {v: 0 for v in ids}
    for u, _ in edges:
        out[u] += 1
    pr = np.full(nn, 1.0 / nn)
    d = 0.85
    for _ in range(8):
        nxt = np.full(nn, (1 - d) / nn)
        dangling = sum(pr[idx[v]] for v in ids if out[v] == 0)
        nxt += d * dangling / nn
        for u, v in edges:
            nxt[idx[v]] += d * pr[idx[u]] / out[u]
        pr = nxt
    assert set(got) == set(ids)
    for v in ids:
        assert abs(got[v] - pr[idx[v]]) < 1e-12, v
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved


def _motif_reference(e):
    """Brute-force per-node motif features of an aggregated edgelist,
    straight from the reference's definitions (extract_motif_features.py,
    extract_egonet_features.py), in plain Python:
    {node: ((mutual n, amount, tx), (triangle n, amount, tx),
    (ego n, ego m, density))}.

      * mutual partners w of v (v→w and w→v), amount and tx summed over
        both directions of each mutual pair;
      * directed 3-cycles a→b→c→a, each counted once and credited to all
        three participants with the amount and tx of its three edges;
      * ego(v) = {v} ∪ undirected neighbors: n = |ego|, m = directed
        non-self edges with both ends in ego, density = m / (n(n−1)).

    Self-loops only make their node exist."""
    rows = e.select("src", "dst", "amount", "cnt").collect()
    nodes = {x for r in rows for x in (r.src, r.dst)}
    E = {(r.src, r.dst): (r.amount, r.cnt) for r in rows if r.src != r.dst}
    out_nb = {v: set() for v in nodes}
    for u, w in E:
        out_nb[u].add(w)
    mut = {v: [0, 0.0, 0] for v in nodes}
    tri = {v: [0, 0.0, 0] for v in nodes}
    for (u, w), (am, cnt) in E.items():
        if (w, u) in E:
            am_r, cnt_r = E[(w, u)]
            mut[u][0] += 1
            mut[u][1] += am + am_r
            mut[u][2] += cnt + cnt_r
    for (a, b), (am1, c1) in E.items():
        for c in out_nb[b]:
            if a < b and a < c and (c, a) in E:  # each cycle once, at min
                am2, c2 = E[(b, c)]
                am3, c3 = E[(c, a)]
                for v in (a, b, c):
                    tri[v][0] += 1
                    tri[v][1] += am1 + am2 + am3
                    tri[v][2] += c1 + c2 + c3
    out = {}
    for v in nodes:
        ego = {v} | out_nb[v] | {u for (u, w) in E if w == v}
        n = len(ego)
        m = sum(1 for (x, y) in E if x in ego and y in ego)
        out[v] = (tuple(mut[v]), tuple(tri[v]),
                  (n, m, m / (n * (n - 1)) if n > 1 else 0.0))
    return out


def _motif_fused_frame(df, orientation="id"):
    return {
        n: ((r.two_node_loop_count, r.two_node_loop_amount,
             r.two_node_loop_tx),
            (r.triangle_count, r.triangle_amount, r.triangle_tx),
            (r.ego_n, r.ego_m, r.ego_density))
        for n, r in _fused_rows(df, orientation).items()
    }


def test_fused_motif_features_matches_reference(spark):
    """One triangle enumeration must reproduce the brute-force mutual
    pair, directed triangle and egonet definitions exactly — random dense
    directed graph with self-loops and a self-loop-only node, both pivot
    orientations. Integer amounts keep float sums exact in any order."""
    import random

    rng = random.Random(11)
    rows = [(f"n{rng.randrange(30)}", f"n{rng.randrange(30)}",
             float(rng.randrange(1, 100)), i) for i in range(400)]
    rows += [("n0", "n0", 5.0, 900), ("lonely", "lonely", 2.0, 901)]
    df = graph.aggregate_edges(
        spark.createDataFrame(
            rows, "src string, dst string, amount double, ts long"),
        "src", "dst", "amount", "ts")
    want = _motif_reference(df)
    assert sum(w[1][0] for w in want.values()) > 0  # the graph has cycles
    assert _motif_fused_frame(df) == want
    assert _motif_fused_frame(df, orientation="degree") == want
    assert want["lonely"] == ((0, 0.0, 0), (0, 0.0, 0), (1, 0, 0.0))


def test_fused_motif_features_on_hub_graph(spark):
    """Hub-skew shape (mega-hub low in the id order): degree orientation
    must agree with id orientation and with the brute-force reference.
    Amounts are dyadic, so float sums are exact in any order."""
    rows = [("a_hub", f"x{i:03d}", 1.0, i) for i in range(60)]
    rows += [(f"x{i:03d}", "a_hub", 2.0, 100 + i) for i in range(0, 60, 2)]
    rows += [(f"x{i:03d}", f"x{i+1:03d}", 3.0, 200 + i) for i in range(59)]
    rows += [("x000", "x002", 1.5, 300), ("x002", "x000", 1.5, 301)]
    df = graph.aggregate_edges(
        spark.createDataFrame(
            rows, "src string, dst string, amount double, ts long"),
        "src", "dst", "amount", "ts")
    want = _motif_reference(df)
    assert _motif_fused_frame(df) == want
    assert _motif_fused_frame(df, orientation="degree") == want
