"""Graph analytics: PageRank vs a numpy power-method reference,
triangle counting vs brute-force enumeration, on fixed and
property-generated graphs."""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F
from hypothesis import given, settings, strategies as st

from pawpaw_spark.operators.graph import pagerank, triangle_count, undirected_edges


def np_pagerank(edges, iters=3, damping=0.85):
    """Dense power method with dangling-mass redistribution — the
    textbook formulation pagerank() documents."""
    e = sorted(set(edges))
    nodes = sorted({x for p in e for x in p})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_deg = {u: 0 for u in nodes}
    for u, _ in e:
        out_deg[u] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        for u, v in e:
            contrib[idx[v]] += r[idx[u]] / out_deg[u]
        dmass = sum(r[idx[u]] for u in nodes if out_deg[u] == 0)
        r = (1.0 - damping) / n + damping * (contrib + dmass / n)
    return {nodes[i]: r[i] for i in range(n)}


def py_triangles(edges):
    und = {tuple(sorted(p)) for p in edges if p[0] != p[1]}
    nodes = sorted({x for p in und for x in p})
    count = {n: 0 for n in nodes}
    for x, y, z in itertools.combinations(nodes, 3):
        if {(x, y), (x, z), (y, z)} <= und:
            count[x] += 1
            count[y] += 1
            count[z] += 1
    return count


def _edge_df(spark, edges):
    return spark.createDataFrame(
        [(str(a), str(b)) for a, b in edges], "src string, dst string"
    )


RING_HUB = (
    # two components: a 5-ring with chords + hub, and a 3-path
    [(i, (i + 1) % 5) for i in range(5)]
    + [(i, (i + 2) % 5) for i in range(5)]
    + [(i, 99) for i in range(5)]
    + [(10, 11), (11, 12)]
)


class TestPagerank:
    def test_matches_numpy_ring_hub(self, spark):
        got = {
            r.node: r.rank
            for r in pagerank(_edge_df(spark, RING_HUB), iters=4).collect()
        }
        want = np_pagerank([(str(a), str(b)) for a, b in RING_HUB], iters=4)
        assert set(got) == set(want)
        # rel=1e-9: the engine's exact fixed-point (1e-15 unit)
        # recurrence floor-quantizes each term, so it sits within
        # ~1e-11 of the float oracle, never bit-equal to it
        for n in got:
            assert got[n] == pytest.approx(want[n], rel=1e-9)

    def test_dangling_and_self_loop(self, spark):
        # 0 -> 0 (self loop), 0 -> 1, 1 has no out-edges (dangling)
        edges = [(0, 0), (0, 1)]
        got = {
            r.node: r.rank
            for r in pagerank(_edge_df(spark, edges), iters=5).collect()
        }
        want = np_pagerank([(str(a), str(b)) for a, b in edges], iters=5)
        for n in got:
            assert got[n] == pytest.approx(want[n], rel=1e-9)
        # mass is conserved up to fixed-point floor losses (<= a few
        # hundred 1e-15 units per iteration)
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-10)

    def test_zero_iters_is_uniform(self, spark):
        got = {
            r.node: r.rank
            for r in pagerank(_edge_df(spark, [(0, 1), (1, 2)]), iters=0).collect()
        }
        assert got == {"0": pytest.approx(1 / 3), "1": pytest.approx(1 / 3),
                       "2": pytest.approx(1 / 3)}

    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 9), st.integers(0, 9)),
            min_size=1,
            max_size=25,
        )
    )
    @settings(max_examples=20, deadline=None, derandomize=True)
    def test_property_matches_numpy(self, spark, edges):
        got = {
            r.node: r.rank
            for r in pagerank(_edge_df(spark, edges), iters=3).collect()
        }
        want = np_pagerank([(str(a), str(b)) for a, b in edges], iters=3)
        assert set(got) == set(want)
        for n in got:
            assert got[n] == pytest.approx(want[n], rel=1e-9)
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-10)


class TestTriangles:
    def test_ring_hub(self, spark):
        got = {
            r.node: r.n_triangles
            for r in triangle_count(_edge_df(spark, RING_HUB)).collect()
        }
        want = py_triangles([(str(a), str(b)) for a, b in RING_HUB])
        assert got == want

    def test_triangle_free_nodes_present_as_zero(self, spark):
        got = {
            r.node: r.n_triangles
            for r in triangle_count(_edge_df(spark, [(0, 1), (1, 2)])).collect()
        }
        assert got == {"0": 0, "1": 0, "2": 0}

    def test_complete_k5(self, spark):
        edges = list(itertools.combinations(range(5), 2))
        got = {
            r.node: r.n_triangles
            for r in triangle_count(_edge_df(spark, edges)).collect()
        }
        # every node sits in C(4,2) = 6 triangles of K5
        assert got == {str(i): 6 for i in range(5)}

    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 7), st.integers(0, 7)),
            min_size=1,
            max_size=20,
        )
    )
    @settings(max_examples=20, deadline=None, derandomize=True)
    def test_property_matches_bruteforce(self, spark, edges):
        sedges = [(str(a), str(b)) for a, b in edges]
        want = py_triangles(sedges)
        if not want:  # all self-loops -> empty projection, no rows
            assert triangle_count(_edge_df(spark, edges)).count() == 0
            return
        got = {
            r.node: r.n_triangles
            for r in triangle_count(_edge_df(spark, edges)).collect()
        }
        assert got == want


class TestUndirected:
    def test_canonicalizes(self, spark):
        rows = undirected_edges(
            _edge_df(spark, [(1, 2), (2, 1), (3, 3), (2, 3)])
        ).collect()
        assert {(r.a, r.b) for r in rows} == {("1", "2"), ("2", "3")}


class TestCacheHygiene:
    def test_empty_graph_pagerank(self, spark):
        df = spark.createDataFrame([], "src string, dst string")
        out = pagerank(df, iters=3)
        assert out.count() == 0
        assert out._pagerank_n == 0

    def test_unmaterialized_caches_registered(self, spark):
        from pawpaw_spark.operators.dedup import release_session_caches

        release_session_caches(spark)
        jsc = spark.sparkContext._jsc.sc()
        # delta-based, not == 0: earlier tests' localCheckpoint RDDs
        # linger until the JVM ContextCleaner collects them, which is
        # GC-timing dependent (observed flake under load)
        base = jsc.getPersistentRDDs().size()
        df = _edge_df(spark, RING_HUB)
        pr = pagerank(df, iters=2, materialize=False)
        tc = triangle_count(df, materialize=False)
        pr.count(), tc.count()
        # both operators registered their internal persists; releasing
        # leaves no NEW cached RDDs behind
        assert release_session_caches(spark) >= 2
        assert jsc.getPersistentRDDs().size() <= base


class TestPagerankDeterminism:
    def test_rank_fp_invariant_under_partitioning(self, spark):
        """The fixed-point ranks must be BIT-IDENTICAL regardless of
        input partitioning — the property float sums cannot give (sum
        order varies with the plan, flipping rounded last digits)."""
        df = _edge_df(spark, RING_HUB)
        one = {
            r.node: r.rank_fp
            for r in pagerank(df.repartition(1), iters=4).collect()
        }
        many = {
            r.node: r.rank_fp
            for r in pagerank(df.repartition(13), iters=4).collect()
        }
        assert one == many
        assert all(isinstance(v, int) for v in one.values())

    def test_damping_must_be_per_mille(self, spark):
        import pytest as _pytest

        df = _edge_df(spark, [(0, 1)])
        with _pytest.raises(ValueError, match="multiple of 0.001"):
            pagerank(df, iters=1, damping=0.8567)


class TestReachability:
    def _seeds(self, spark, *nodes):
        return spark.createDataFrame([(n,) for n in nodes], "node string")

    def test_line_graph_depths_and_cutoff(self, spark):
        from pawpaw_spark.operators.graph import reachability

        e = _edge_df(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
        got = {
            r.node: r.depth
            for r in reachability(e, self._seeds(spark, "0"), max_depth=2).collect()
        }
        assert got == {"0": 0, "1": 1, "2": 2}  # 3, 4 beyond the cutoff

    def test_cycle_terminates_and_min_depth_wins(self, spark):
        from pawpaw_spark.operators.graph import reachability

        # 0 -> 1 -> 2 -> 0 (cycle) plus a shortcut 0 -> 2
        e = _edge_df(spark, [(0, 1), (1, 2), (2, 0), (0, 2)])
        got = {
            r.node: r.depth
            for r in reachability(e, self._seeds(spark, "0"), max_depth=8).collect()
        }
        assert got == {"0": 0, "1": 1, "2": 1}

    def test_multi_seed_and_unreachable(self, spark):
        from pawpaw_spark.operators.graph import reachability

        # two components; seeds in both; 9 -> 0 edge direction means 9
        # reaches 0's component but nothing reaches 5
        e = _edge_df(spark, [(0, 1), (1, 2), (5, 6)])
        got = {
            r.node: r.depth
            for r in reachability(
                e, self._seeds(spark, "0", "5"), max_depth=8
            ).collect()
        }
        assert got == {"0": 0, "5": 0, "1": 1, "6": 1, "2": 2}

    def test_directed_not_undirected(self, spark):
        from pawpaw_spark.operators.graph import reachability

        e = _edge_df(spark, [(1, 0)])  # edge INTO the seed only
        got = {
            r.node: r.depth
            for r in reachability(e, self._seeds(spark, "0"), max_depth=4).collect()
        }
        assert got == {"0": 0}

    def test_long_chain_matches_python_bfs(self, spark):
        """45 levels of checkpointed frontiers: every level and the
        cutoff agree with a plain-Python BFS."""
        from pawpaw_spark.operators.graph import reachability

        chain = [(i, i + 1) for i in range(45)] + [(7, 3), (20, 44)]
        e = _edge_df(spark, chain)
        for max_depth in (40, 50):
            got = {
                r.node: r.depth
                for r in reachability(
                    e, self._seeds(spark, "0"), max_depth=max_depth
                ).collect()
            }
            assert got == py_bfs(chain, ["0"], max_depth), max_depth
        # 43 levels: 21..43 only by the chain (44 and 45 come early, by
        # the 20 -> 44 shortcut)
        assert max(got.values()) == 43


def py_pagerank_fp(edges, iters, damping=0.85, scale=10**15):
    """Pure-Python-int mirror of the engine's fixed-point recurrence —
    EXACT expected values, not a float approximation."""
    e = sorted({(str(a), str(b)) for a, b in edges})
    nodes = sorted({x for p in e for x in p})
    n = len(nodes)
    out_deg = {}
    for u, _ in e:
        out_deg[u] = out_deg.get(u, 0) + 1
    d1000 = int(round(damping * 1000))
    r = {v: scale // n for v in nodes}
    base = (1000 - d1000) * scale // (1000 * n)
    for _ in range(iters):
        contrib = {v: 0 for v in nodes}
        for u, v in e:
            contrib[v] += r[u] // out_deg[u]
        dmass = sum(r[u] for u in nodes if u not in out_deg)
        r = {
            v: base + (d1000 * (contrib[v] + dmass // n)) // 1000
            for v in nodes
        }
    return r


class TestPagerankExactness:
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 9), st.integers(0, 9)),
            min_size=1,
            max_size=25,
        ),
        iters=st.integers(0, 4),
    )
    @settings(max_examples=15, deadline=None, derandomize=True)
    def test_rank_fp_bit_equals_python_int_recurrence(self, spark, edges, iters):
        got = {
            r.node: r.rank_fp
            for r in pagerank(_edge_df(spark, edges), iters=iters).collect()
        }
        want = py_pagerank_fp(edges, iters)
        assert got == want  # EXACT integer equality, no tolerance


def py_bfs(edges, seeds, max_depth):
    e = {(str(a), str(b)) for a, b in edges}
    adj = {}
    for u, v in e:
        adj.setdefault(u, set()).add(v)
    depth = {s: 0 for s in seeds}
    frontier = set(seeds)
    for d in range(1, max_depth + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in depth:
                    nxt.add(v)
        for v in nxt:
            depth[v] = d
        if not nxt:
            break
        frontier = nxt
    return depth


class TestReachabilityProperty:
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 9), st.integers(0, 9)),
            min_size=1,
            max_size=25,
        ),
        n_seeds=st.integers(1, 3),
        max_depth=st.integers(0, 5),
    )
    @settings(max_examples=15, deadline=None, derandomize=True)
    def test_matches_python_bfs(self, spark, edges, n_seeds, max_depth):
        from pawpaw_spark.operators.graph import reachability

        seeds = sorted({str(a) for a, _ in edges})[:n_seeds]
        got = {
            r.node: r.depth
            for r in reachability(
                _edge_df(spark, edges),
                spark.createDataFrame([(s,) for s in seeds], "node string"),
                max_depth=max_depth,
            ).collect()
        }
        assert got == py_bfs(edges, seeds, max_depth)


# --- label propagation ------------------------------------------------------


def py_lpa(edges, iters):
    """Synchronous min-tie-break LPA over the undirected simple
    projection — the deterministic recurrence label_propagation()
    documents."""
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {n: n for n in adj}
    for _ in range(iters):
        new = {}
        for n, nbrs in adj.items():
            cnt = {}
            for m in nbrs:
                cnt[labels[m]] = cnt.get(labels[m], 0) + 1
            new[n] = min(cnt, key=lambda l: (-cnt[l], l))
        labels = new
    return labels


class TestLabelPropagation:
    def test_matches_python_reference(self, spark):
        from pawpaw_spark.operators.graph import label_propagation

        for iters in (0, 1, 3):
            got = {
                r.node: r.label
                for r in label_propagation(
                    _edge_df(spark, RING_HUB), iters=iters
                ).collect()
            }
            want = {
                str(n): str(l)
                for n, l in py_lpa([(str(a), str(b)) for a, b in RING_HUB], iters).items()
            }
            assert got == want, f"iters={iters}"

    def test_two_cliques_bridge(self, spark):
        from pawpaw_spark.operators.graph import label_propagation

        cl1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        cl2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
        edges = cl1 + cl2 + [(3, 10)]
        out = {
            r.node: r.label
            for r in label_propagation(_edge_df(spark, edges), iters=4).collect()
        }
        # each clique converges to one label; they differ
        lab1 = {out[str(n)] for n in range(4)}
        lab2 = {out[str(n)] for n in range(10, 14)}
        assert len(lab1) == 1 and len(lab2) == 1 and lab1 != lab2

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 12), st.integers(0, 12)),
            min_size=1,
            max_size=25,
        ),
        st.integers(1, 3),
    )
    def test_property_random_graphs(self, spark, edges, iters):
        from pawpaw_spark.operators.graph import label_propagation

        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            return
        got = {
            r.node: r.label
            for r in label_propagation(_edge_df(spark, edges), iters=iters).collect()
        }
        want = {
            str(n): str(l)
            for n, l in py_lpa([(str(a), str(b)) for a, b in edges], iters).items()
        }
        assert got == want


# --- k-core -----------------------------------------------------------------


def py_kcore(edges, k):
    """Sequential peeling reference (order-independent fixpoint)."""
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    changed = True
    while changed:
        changed = False
        for n in list(alive):
            if len(adj[n] & alive) < k:
                alive.discard(n)
                changed = True
    return {n: len(adj[n] & alive) for n in alive}


class TestKCore:
    def test_matches_python_reference(self, spark):
        from pawpaw_spark.operators.graph import kcore

        sedges = [(str(a), str(b)) for a, b in RING_HUB]
        for k in (0, 1, 2, 3, 4):
            got = {
                r.node: r.core_deg
                for r in kcore(_edge_df(spark, RING_HUB), k=k).collect()
            }
            want = {n: d for n, d in py_kcore(sedges, k).items()}
            assert got == want, f"k={k}"

    def test_deep_cascade_chain(self, spark):
        from pawpaw_spark.operators.graph import kcore

        # a 30-chain hanging off a 4-clique: 2-core peeling unravels
        # the chain one layer per synchronized round (here, from the
        # free end only), exercising many rounds before the fixpoint
        clique = [(100, 101), (100, 102), (100, 103), (101, 102), (101, 103), (102, 103)]
        chain = [(100, 0)] + [(i, i + 1) for i in range(29)]
        got = {
            r.node: r.core_deg
            for r in kcore(_edge_df(spark, clique + chain), k=2).collect()
        }
        want = py_kcore([(str(a), str(b)) for a, b in clique + chain], 2)
        assert got == want
        assert set(got) == {"100", "101", "102", "103"}

    def test_max_rounds_raise(self, spark):
        from pawpaw_spark.operators.graph import kcore

        chain = [(i, i + 1) for i in range(12)]
        with pytest.raises(RuntimeError, match="fixpoint"):
            kcore(_edge_df(spark, chain), k=2, max_rounds=3)

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 10), st.integers(0, 10)),
            min_size=1,
            max_size=25,
        ),
        st.integers(1, 4),
    )
    def test_property_random_graphs(self, spark, edges, k):
        from pawpaw_spark.operators.graph import kcore

        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            return
        got = {
            r.node: r.core_deg
            for r in kcore(_edge_df(spark, edges), k=k).collect()
        }
        want = py_kcore([(str(a), str(b)) for a, b in edges], k)
        assert got == want


# --- link prediction ---------------------------------------------------------


def py_linkpred(edges, max_hub_deg=None, exclude_existing=True):
    import math

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {n: len(v) for n, v in adj.items()}
    out = {}
    nodes = sorted(adj)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1:]:
            if exclude_existing and (u, v) in und:
                continue
            mids = [
                w for w in adj[u] & adj[v]
                if max_hub_deg is None or deg[w] <= max_hub_deg
            ]
            if not mids:
                continue
            c = len(mids)
            out[(u, v)] = (
                c,
                c / (deg[u] + deg[v] - c),
                sum(1.0 / math.log(deg[w]) for w in mids),
            )
    return out


class TestLinkPrediction:
    def test_matches_python_reference(self, spark):
        from pawpaw_spark.operators.graph import link_prediction

        got = {
            (r.a, r.b): (r.common, r.jaccard, r.adamic_adar)
            for r in link_prediction(_edge_df(spark, RING_HUB), max_hub_deg=None).collect()
        }
        want = py_linkpred([(str(a), str(b)) for a, b in RING_HUB])
        assert set(got) == set(want)
        for k, (c, j, aa) in want.items():
            gc, gj, gaa = got[k]
            assert gc == c and abs(gj - j) < 1e-12 and abs(gaa - aa) < 1e-12

    def test_hub_cap_drops_middle_only(self, spark):
        from pawpaw_spark.operators.graph import link_prediction

        star = [(99, i) for i in range(6)] + [(0, 1), (1, 2)]
        uncapped = {
            (r.a, r.b) for r in link_prediction(_edge_df(spark, star), max_hub_deg=None).collect()
        }
        capped = {
            (r.a, r.b)
            for r in link_prediction(_edge_df(spark, star), max_hub_deg=3).collect()
        }
        # via the hub every leaf pair scores; capped keeps only wedges
        # through low-degree middles (0-2 via 1, 1's nbrs via 0/2, 99-x via leaves)
        want_capped = py_linkpred([(str(a), str(b)) for a, b in star], max_hub_deg=3)
        assert capped == set(want_capped) and len(capped) < len(uncapped)

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 9), st.integers(0, 9)),
            min_size=1, max_size=20,
        ),
        st.sampled_from([None, 3]),
    )
    def test_property_random_graphs(self, spark, edges, cap):
        from pawpaw_spark.operators.graph import link_prediction

        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            return
        got = {
            (r.a, r.b): (r.common, round(r.jaccard, 9), round(r.adamic_adar, 9))
            for r in link_prediction(_edge_df(spark, edges), max_hub_deg=cap).collect()
        }
        want = {
            k: (c, round(j, 9), round(aa, 9))
            for k, (c, j, aa) in py_linkpred(
                [(str(a), str(b)) for a, b in edges], max_hub_deg=cap
            ).items()
        }
        assert got == want


# --- personalized PageRank ----------------------------------------------------


def py_ppr_fp(edges, seeds, iters, damping=0.85, scale=10**15):
    """Exact integer mirror of the engine's PERSONALIZED recurrence:
    teleport + dangling mass flow only to the seed set."""
    e = sorted({(str(a), str(b)) for a, b in edges})
    nodes = sorted({x for p in e for x in p})
    S = {str(s) for s in seeds} & set(nodes)
    ns = len(S)
    out_deg = {}
    for u, _ in e:
        out_deg[u] = out_deg.get(u, 0) + 1
    d1000 = int(round(damping * 1000))
    r = {v: (scale // ns if v in S else 0) for v in nodes}
    base = (1000 - d1000) * scale // (1000 * ns)
    for _ in range(iters):
        contrib = {v: 0 for v in nodes}
        for u, v in e:
            contrib[v] += r[u] // out_deg[u]
        dmass = sum(r[u] for u in nodes if u not in out_deg)
        r = {
            v: (base + (d1000 * (contrib[v] + dmass // ns)) // 1000)
            if v in S
            else (d1000 * contrib[v]) // 1000
            for v in nodes
        }
    return r


class TestPersonalizedPagerank:
    def _seeds(self, spark, ids):
        return spark.createDataFrame([(str(s),) for s in ids], "node string")

    def test_matches_python_reference(self, spark):
        got = {
            r.node: r.rank_fp
            for r in pagerank(
                _edge_df(spark, RING_HUB), iters=3,
                teleport_to=self._seeds(spark, [99, 10]),
            ).collect()
        }
        want = py_ppr_fp(RING_HUB, ["99", "10"], iters=3)
        assert got == want

    def test_all_nodes_seed_equals_classic(self, spark):
        all_nodes = {str(x) for p in RING_HUB for x in p}
        classic = {
            r.node: r.rank_fp
            for r in pagerank(_edge_df(spark, RING_HUB), iters=3).collect()
        }
        ppr = {
            r.node: r.rank_fp
            for r in pagerank(
                _edge_df(spark, RING_HUB), iters=3,
                teleport_to=self._seeds(spark, sorted(all_nodes)),
            ).collect()
        }
        assert ppr == classic

    def test_mass_localizes_near_seeds(self, spark):
        # two disjoint components; seeding only one keeps the other at 0
        comp_a = [(0, 1), (1, 2), (2, 0)]
        comp_b = [(10, 11), (11, 12), (12, 10)]
        out = {
            r.node: r.rank_fp
            for r in pagerank(
                _edge_df(spark, comp_a + comp_b), iters=4,
                teleport_to=self._seeds(spark, [0]),
            ).collect()
        }
        assert all(out[str(n)] > 0 for n in (0, 1, 2))
        assert all(out[str(n)] == 0 for n in (10, 11, 12))

    def test_seeds_outside_graph_raise(self, spark):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="no node present"):
            pagerank(
                _edge_df(spark, RING_HUB), iters=1,
                teleport_to=self._seeds(spark, ["zzz"]),
            )

    def test_partially_missing_seeds_raise_by_default(self, spark):
        # a typo'd seed must fail loud, not silently renormalize the
        # survivors' teleport share (round-3 review finding)
        import pytest as _pytest

        with _pytest.raises(ValueError, match="absent from the graph"):
            pagerank(
                _edge_df(spark, RING_HUB), iters=1,
                teleport_to=self._seeds(spark, [99, "zzz"]),
            )

    def test_lenient_seeds_renormalize_over_present(self, spark):
        got = {
            r.node: r.rank_fp
            for r in pagerank(
                _edge_df(spark, RING_HUB), iters=2,
                teleport_to=self._seeds(spark, [99, 10, "zzz"]),
                strict_seeds=False,
            ).collect()
        }
        assert got == py_ppr_fp(RING_HUB, ["99", "10"], iters=2)

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 8), st.integers(0, 8)),
            min_size=1, max_size=20,
        ),
        st.sets(st.integers(0, 8), min_size=1, max_size=3),
    )
    def test_property_exact_integers(self, spark, edges, seeds):
        nodes = {str(x) for p in edges for x in p}
        seeds = {str(s) for s in seeds} & nodes
        if not seeds:
            return
        got = {
            r.node: r.rank_fp
            for r in pagerank(
                _edge_df(spark, edges), iters=2,
                teleport_to=self._seeds(spark, sorted(seeds)),
            ).collect()
        }
        assert got == py_ppr_fp(edges, seeds, iters=2)


def py_scc(edges):
    """Iterative Tarjan -> {node: max member of its SCC} — the exact
    labeling contract of strongly_connected_components()."""
    adj: dict = {}
    nodes = sorted({str(x) for p in edges for x in p})
    for a, b in edges:
        adj.setdefault(str(a), []).append(str(b))
    index: dict = {}
    low: dict = {}
    onstk: set = set()
    stk: list = []
    out: dict = {}
    counter = [0]
    for s in nodes:
        if s in index:
            continue
        index[s] = low[s] = counter[0]
        counter[0] += 1
        stk.append(s)
        onstk.add(s)
        work = [(s, iter(adj.get(s, [])))]
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter[0]
                    counter[0] += 1
                    stk.append(w)
                    onstk.add(w)
                    work.append((w, iter(adj.get(w, []))))
                    advanced = True
                    break
                if w in onstk:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stk.pop()
                    onstk.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = max(comp)
                for w in comp:
                    out[w] = m
    return out


# two 2-cycles chained by a DAG edge; the UPSTREAM cycle carries the
# larger ids, so round 1's max color ('d') floods the downstream cycle
# but only collects {c, d} — the canonical 2-outer-round graph
CHAINED_CYCLES = [("c", "d"), ("d", "c"), ("c", "a"), ("a", "b"), ("b", "a")]


class TestStronglyConnectedComponents:
    def _run(self, spark, edges, **kw):
        from pawpaw_spark.operators.graph import strongly_connected_components

        return {
            r.node: r.scc
            for r in strongly_connected_components(
                _edge_df(spark, edges), **kw
            ).collect()
        }

    def test_chained_cycles_two_rounds(self, spark):
        assert self._run(spark, CHAINED_CYCLES) == py_scc(CHAINED_CYCLES)

    def test_figure_eight_is_one_scc(self, spark):
        edges = [(0, 1), (1, 0), (1, 2), (2, 1)]
        got = self._run(spark, edges)
        assert got == {"0": "2", "1": "2", "2": "2"} == py_scc(edges)

    def test_chain_all_singletons_via_trim(self, spark):
        edges = [(0, 1), (1, 2), (2, 3)]
        assert self._run(spark, edges) == {str(i): str(i) for i in range(4)}

    def test_self_loop_survives_trim(self, spark):
        edges = [(0, 0), (0, 1)]
        assert self._run(spark, edges) == {"0": "0", "1": "1"}

    def test_max_outer_guard_raises(self, spark):
        from pawpaw_spark.operators.graph import strongly_connected_components

        with pytest.raises(RuntimeError, match="max_outer"):
            strongly_connected_components(
                _edge_df(spark, CHAINED_CYCLES), max_outer=1
            ).collect()

    def test_condensation_is_the_dag(self, spark):
        from pawpaw_spark.operators.graph import (
            condensation,
            strongly_connected_components,
        )

        e = _edge_df(spark, CHAINED_CYCLES)
        scc = strongly_connected_components(e)
        got = {(r.scc_src, r.scc_dst) for r in condensation(e, scc).collect()}
        assert got == {("d", "b")}

    def test_empty_edges(self, spark):
        from pawpaw_spark.operators.graph import strongly_connected_components

        assert (
            strongly_connected_components(
                spark.createDataFrame([], "src string, dst string")
            ).count()
            == 0
        )

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 8), st.integers(0, 8)),
            min_size=1, max_size=20,
        )
    )
    def test_property_matches_tarjan(self, spark, edges):
        assert self._run(spark, edges) == py_scc(edges)


def py_topo_layers(edges):
    """Kahn peeling -> {node: longest-path-from-source length}."""
    e = {(str(a), str(b)) for a, b in edges}
    nodes = {x for p in e for x in p}
    out = {}
    layer = 0
    while nodes:
        dsts = {b for a, b in e if a in nodes and b in nodes}
        zero = {n for n in nodes if n not in dsts}
        if not zero:
            raise ValueError("cycle")
        for n in zero:
            out[n] = layer
        nodes -= zero
        layer += 1
    return out


class TestTopoLayers:
    def _run(self, spark, edges, **kw):
        from pawpaw_spark.operators.graph import topo_layers

        return {
            r.node: r.layer
            for r in topo_layers(_edge_df(spark, edges), **kw).collect()
        }

    def test_diamond(self, spark):
        edges = [(0, 1), (0, 2), (1, 3), (2, 3)]
        assert self._run(spark, edges) == {"0": 0, "1": 1, "2": 1, "3": 2}

    def test_longest_path_not_shortest(self, spark):
        # 3 is reachable in 1 hop from 0 but sits at layer 3 (via 1, 2)
        edges = [(0, 3), (0, 1), (1, 2), (2, 3)]
        assert self._run(spark, edges)["3"] == 3

    def test_cycle_raises(self, spark):
        with pytest.raises(ValueError, match="cycle detected"):
            self._run(spark, [(0, 1), (1, 0)])

    def test_self_loop_raises(self, spark):
        with pytest.raises(ValueError, match="self-loop"):
            self._run(spark, [(0, 0), (0, 1)])

    def test_max_layers_raises(self, spark):
        with pytest.raises(ValueError, match="max_layers"):
            self._run(spark, [(0, 1), (1, 2)], max_layers=2)

    def test_scc_condensation_topo_composition(self, spark):
        """The cyclic-dependency-aware build order: SCCs contracted,
        then layered — CHAINED_CYCLES gives upstream cycle at layer 0,
        downstream at layer 1."""
        from pawpaw_spark.operators.graph import (
            condensation,
            strongly_connected_components,
            topo_layers,
        )

        e = _edge_df(spark, CHAINED_CYCLES)
        scc = strongly_connected_components(e)
        got = {
            r.node: r.layer
            for r in topo_layers(
                condensation(e, scc), "scc_src", "scc_dst"
            ).collect()
        }
        assert got == {"d": 0, "b": 1}

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            # a < b forces acyclicity
            st.tuples(st.integers(0, 8), st.integers(0, 8)).map(
                lambda t: (min(t), max(t) + 1)
            ),
            min_size=1, max_size=20,
        )
    )
    def test_property_matches_kahn(self, spark, edges):
        assert self._run(spark, edges) == py_topo_layers(edges)


def py_wpr_fp(wedges, iters, damping=0.85, scale=10**15):
    """Exact integer mirror of the WEIGHTED recurrence: parallel edges
    sum weights, contribution = rank * w // out_strength (python ints
    are arbitrary precision — the engine's DECIMAL(38,0) widening)."""
    agg = {}
    for a, b, w in wedges:
        agg[(str(a), str(b))] = agg.get((str(a), str(b)), 0) + w
    nodes = sorted({x for p in agg for x in p})
    out_w = {}
    for (u, _), w in agg.items():
        out_w[u] = out_w.get(u, 0) + w
    d1000 = int(round(damping * 1000))
    n = len(nodes)
    r = {v: scale // n for v in nodes}
    base = (1000 - d1000) * scale // (1000 * n)
    for _ in range(iters):
        contrib = {v: 0 for v in nodes}
        for (u, v), w in agg.items():
            contrib[v] += r[u] * w // out_w[u]
        dmass = sum(r[u] for u in nodes if u not in out_w)
        r = {
            v: base + (d1000 * (contrib[v] + dmass // n)) // 1000
            for v in nodes
        }
    return r


class TestWeightedPagerank:
    def _wdf(self, spark, wedges):
        return spark.createDataFrame(
            [(str(a), str(b), w) for a, b, w in wedges],
            "src string, dst string, w long",
        )

    def test_matches_python_reference(self, spark):
        wedges = [(0, 1, 10), (0, 2, 1), (1, 2, 3), (2, 0, 5), (3, 0, 7)]
        got = {
            r.node: r.rank_fp
            for r in pagerank(
                self._wdf(spark, wedges), iters=3, weight_col="w"
            ).collect()
        }
        assert got == py_wpr_fp(wedges, iters=3)

    def test_parallel_edges_sum(self, spark):
        # (0 -> 1) twice with weight 2 == once with weight 4
        a = self._wdf(spark, [(0, 1, 2), (0, 1, 2), (0, 2, 4)])
        b = self._wdf(spark, [(0, 1, 4), (0, 2, 4)])
        ra = {r.node: r.rank_fp for r in pagerank(a, iters=3, weight_col="w").collect()}
        rb = {r.node: r.rank_fp for r in pagerank(b, iters=3, weight_col="w").collect()}
        assert ra == rb

    def test_unit_weights_equal_unweighted(self, spark):
        wedges = [(a, b, 1) for a, b in RING_HUB]
        w = {
            r.node: r.rank_fp
            for r in pagerank(
                self._wdf(spark, wedges), iters=4, weight_col="w"
            ).collect()
        }
        u = {
            r.node: r.rank_fp
            for r in pagerank(_edge_df(spark, RING_HUB), iters=4).collect()
        }
        assert w == u

    def test_nonpositive_weight_raises(self, spark):
        with pytest.raises(Exception, match="must be integers"):
            pagerank(
                self._wdf(spark, [(0, 1, 0)]), iters=1, weight_col="w"
            ).collect()

    def test_heavy_edge_dominates(self, spark):
        # 0 splits 99:1 between 1 and 2 — rank(1) >> rank(2)
        out = {
            r.node: r.rank_fp
            for r in pagerank(
                self._wdf(spark, [(0, 1, 99), (0, 2, 1), (1, 0, 1), (2, 0, 1)]),
                iters=4, weight_col="w",
            ).collect()
        }
        # the (1-d)/N teleport floor props node 2 up, so the ratio is
        # bounded by ~d/(1-d) ≈ 5.7x per hop, not the raw 99x
        assert out["1"] > 5 * out["2"]

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(0, 6), st.integers(0, 6), st.integers(1, 1000)
            ),
            min_size=1, max_size=15,
        )
    )
    def test_property_matches_python(self, spark, wedges):
        got = {
            r.node: r.rank_fp
            for r in pagerank(
                self._wdf(spark, wedges), iters=2, weight_col="w"
            ).collect()
        }
        assert got == py_wpr_fp(wedges, iters=2)


def py_shortest(edges_w, seeds, max_dist=None):
    """Dijkstra over integer weights -> {node: min dist}."""
    import heapq

    adj: dict = {}
    for a, b, w in edges_w:
        adj.setdefault(str(a), []).append((str(b), int(w)))
    dist: dict = {}
    pq = [(0, str(s)) for s in seeds]
    heapq.heapify(pq)
    while pq:
        d, u = heapq.heappop(pq)
        if u in dist:
            continue
        if max_dist is not None and d > max_dist:
            continue
        dist[u] = d
        for v, w in adj.get(u, []):
            if v not in dist:
                heapq.heappush(pq, (d + w, v))
    return dist


def _wedge_df(spark, triples):
    return spark.createDataFrame(
        [(str(a), str(b), int(w)) for a, b, w in triples],
        "src string, dst string, w long",
    )


class TestShortestPaths:
    def _seeds(self, spark, *nodes):
        return spark.createDataFrame([(str(n),) for n in nodes], "node string")

    def _run(self, spark, edges_w, seeds, **kw):
        from pawpaw_spark.operators.graph import shortest_paths

        return {
            r.node: r.dist
            for r in shortest_paths(
                _wedge_df(spark, edges_w),
                self._seeds(spark, *seeds),
                weight_col="w",
                **kw,
            ).collect()
        }

    def test_cheap_long_path_beats_heavy_hop(self, spark):
        e = [(0, 1, 1), (1, 2, 1), (2, 3, 1), (0, 3, 5)]
        got = self._run(spark, e, ["0"])
        assert got == py_shortest(e, ["0"]) == {"0": 0, "1": 1, "2": 2, "3": 3}

    def test_cycle_terminates(self, spark):
        e = [(0, 1, 2), (1, 0, 2), (1, 2, 7)]
        assert self._run(spark, e, ["0"]) == py_shortest(e, ["0"])

    def test_max_dist_truncates(self, spark):
        e = [(0, 1, 4), (1, 2, 4)]
        got = self._run(spark, e, ["0"], max_dist=5)
        assert got == py_shortest(e, ["0"], max_dist=5) == {"0": 0, "1": 4}

    def test_multi_source_min_wins(self, spark):
        e = [(0, 1, 9), (5, 1, 2), (1, 2, 1)]
        assert self._run(spark, e, ["0", "5"]) == py_shortest(e, ["0", "5"])

    def test_parallel_edges_keep_min_weight(self, spark):
        e = [(0, 1, 9), (0, 1, 3)]
        assert self._run(spark, e, ["0"]) == {"0": 0, "1": 3}

    def test_unit_weights_equal_bfs_depths(self, spark):
        from pawpaw_spark.operators.graph import reachability, shortest_paths

        edges = [(a, b) for a, b, _ in
                 [(0, 1, 1), (1, 2, 1), (2, 0, 1), (0, 2, 1), (2, 3, 1)]]
        e = _edge_df(spark, edges)
        seeds = self._seeds(spark, "0")
        got = {
            r.node: r.dist
            for r in shortest_paths(e, seeds, max_dist=8).collect()
        }
        want = {
            r.node: r.depth for r in reachability(e, seeds, max_depth=8).collect()
        }
        assert got == want

    def test_zero_weight_raises(self, spark):
        import pytest

        from pawpaw_spark.operators.graph import shortest_paths

        with pytest.raises(Exception, match="weights must be integers"):
            shortest_paths(
                _wedge_df(spark, [(0, 1, 0)]),
                self._seeds(spark, "0"),
                weight_col="w",
            ).collect()

    def test_max_rounds_guard_raises(self, spark):
        import pytest

        from pawpaw_spark.operators.graph import shortest_paths

        e = [(i, i + 1, 1) for i in range(12)]
        with pytest.raises(RuntimeError, match="max_rounds"):
            shortest_paths(
                _wedge_df(spark, e),
                self._seeds(spark, "0"),
                weight_col="w",
                max_rounds=3,
            )

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(0, 6), st.integers(0, 6), st.integers(1, 4)
            ),
            min_size=1,
            max_size=15,
        )
    )
    def test_property_matches_dijkstra(self, spark, edges_w):
        seeds = [str(edges_w[0][0])]
        assert self._run(spark, edges_w, seeds, max_dist=10) == py_shortest(
            edges_w, seeds, max_dist=10
        )


class TestClusteringCoefficient:
    def _run(self, spark, edges):
        from pawpaw_spark.operators.graph import clustering_coefficient

        return {
            r.node: (r.deg, r.n_triangles, r.lcc)
            for r in clustering_coefficient(_edge_df(spark, edges)).collect()
        }

    def test_triangle_plus_tail(self, spark):
        # 0-1-2 triangle, tail 2-3: node 2 has deg 3, 1 triangle
        got = self._run(spark, [(0, 1), (1, 2), (2, 0), (2, 3)])
        assert got["0"] == (2, 1, 1.0)
        assert got["1"] == (2, 1, 1.0)
        assert got["2"] == (3, 1, round(2 * 1 / (3 * 2), 9))
        assert got["3"] == (1, 0, 0.0)

    def test_matches_bruteforce(self, spark):
        edges = RING_HUB
        got = self._run(spark, edges)
        tri = {str(k): v for k, v in py_triangles(edges).items()}
        und = {(str(min(a, b)), str(max(a, b))) for a, b in edges if a != b}
        deg: dict = {}
        for a, b in und:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        for n, (d, t, l) in got.items():
            assert d == deg[n] and t == tri.get(n, 0)
            want = 0.0 if d < 2 else round(2 * t / (d * (d - 1)), 9)
            assert l == want


class TestCooccurrenceEdges:
    def _run(self, spark, pairs, **kw):
        from pawpaw_spark.operators.graph import cooccurrence_edges

        df = spark.createDataFrame(
            [(str(s), str(o)) for s, o in pairs], "subj string, obj string"
        )
        return {
            (r.a, r.b): r.n_subjects
            for r in cooccurrence_edges(df, **kw).collect()
        }

    def test_counts_distinct_subjects(self, spark):
        pairs = [("f1", "x"), ("f1", "y"), ("f2", "x"), ("f2", "y"),
                 ("f2", "y"),  # duplicate reference collapses
                 ("f3", "x")]
        got = self._run(spark, pairs)
        assert got == {("x", "y"): 2}

    def test_max_fan_guard_drops_hub_subject(self, spark):
        pairs = [("big", o) for o in "abcde"] + [("s", "a"), ("s", "b")]
        got = self._run(spark, pairs, max_fan=4)
        assert got == {("a", "b"): 1}  # 'big' (fan 5) excluded entirely

    def test_min_count_filters(self, spark):
        pairs = [("f1", "x"), ("f1", "y"), ("f2", "x"), ("f2", "z")]
        got = self._run(spark, pairs, min_count=2)
        assert got == {}

    def test_matches_bruteforce(self, spark):
        import itertools

        pairs = [(f"f{i}", f"s{(i * j) % 5}") for i in range(6) for j in range(4)]
        got = self._run(spark, pairs)
        by_subj: dict = {}
        for s, o in set(pairs):
            by_subj.setdefault(s, set()).add(o)
        want: dict = {}
        for objs in by_subj.values():
            for a, b in itertools.combinations(sorted(objs), 2):
                want[(a, b)] = want.get((a, b), 0) + 1
        assert got == want


class TestSccAtScale:
    def test_million_edge_mutual_recursion_groups(self, spark):
        """~1.2M-edge directed graph through the FULL distributed
        coloring path (trim -> batched forward max-color -> batched
        reverse collect): 64 mutual-recursion groups, each a ring of
        ~4.7k members with 2p/2p+1 doubling chords (log-diameter — the
        small-world shape real call graphs have) plus one undefined
        external sink per group that must fall out of TRIM as a
        singleton. Exact labels: group SCC = its zero-padded
        lexicographic-max member; proves the rewritten collect phase
        and the batched relaxation rounds at a size the sf bench never
        reaches (the CC stress test's argument, applied to SCC)."""
        from pyspark.sql import functions as F

        from pawpaw_spark.operators.graph import (
            strongly_connected_components,
        )

        G, N = 64, 300_000
        ids = spark.range(N)
        g = F.col("id") % G
        p = (F.col("id") / G).cast("long")
        sg = ((F.lit(N - 1) - g) / G).cast("long") + 1
        fmt = lambda c: F.format_string("n%07d", c.cast("int"))
        src = fmt(F.col("id"))
        mem = lambda pos: fmt(g + G * pos)
        ring = ids.select(src.alias("src"), mem((p + 1) % sg).alias("dst"))
        c1 = ids.select(src.alias("src"), mem((p * 2) % sg).alias("dst"))
        c2 = ids.select(src.alias("src"), mem((p * 2 + 1) % sg).alias("dst"))
        sink = ids.filter(p == sg - 1).select(
            src.alias("src"), F.format_string("x%02d", g.cast("int")).alias("dst")
        )
        edges = ring.union(c1).union(c2).union(sink)
        assert edges.count() == 3 * N + G

        scc = strongly_connected_components(edges)
        # closed form: member of group g -> scc = max id ≡ g (mod G)
        want_scc = fmt(
            (F.col("id") % G)
            + G * (((F.lit(N - 1) - F.col("id") % G) / G).cast("long"))
        )
        want = ids.select(
            fmt(F.col("id")).alias("node"), want_scc.alias("want")
        ).union(
            ids.filter(p == sg - 1).select(
                F.format_string("x%02d", g.cast("int")).alias("node"),
                F.format_string("x%02d", g.cast("int")).alias("want"),
            )
        )
        bad = scc.join(want, "node").filter(
            F.col("scc") != F.col("want")
        ).count()
        assert bad == 0
        assert scc.count() == N + G


def py_hits(edges, iters=3, scale=10**12):
    """Exact integer mirror of hits(): L1-normalized fixed point,
    floor division — bit-identical to the engine by construction."""
    e = sorted({(str(a), str(b)) for a, b in edges})
    nodes = sorted({x for p in e for x in p})
    n = len(nodes)
    hub = {u: scale // n for u in nodes}
    auth = {u: 0 for u in nodes}
    for _ in range(iters):
        raw = {v: 0 for v in nodes}
        for u, v in e:
            raw[v] += hub[u]
        t = sum(raw.values())
        auth = {v: (raw[v] * scale) // t for v in nodes}
        raw = {u: 0 for u in nodes}
        for u, v in e:
            raw[u] += auth[v]
        t = sum(raw.values())
        hub = {u: (raw[u] * scale) // t for u in nodes}
    return hub, auth


class TestHits:
    def _run(self, spark, edges, iters=3):
        from pawpaw_spark.operators.graph import hits

        rows = hits(_edge_df(spark, edges), iters=iters).collect()
        return (
            {r.node: r.hub_fp for r in rows},
            {r.node: r.auth_fp for r in rows},
        )

    def test_exact_ring_hub(self, spark):
        hub, auth = self._run(spark, RING_HUB, iters=3)
        want_h, want_a = py_hits(RING_HUB, iters=3)
        assert hub == want_h and auth == want_a

    def test_star_separates_roles(self, spark):
        # orchestrator 0 -> leaves 1..4: 0 is a pure hub (no in-edges
        # => auth 0), leaves are pure authorities (no out-edges =>
        # hub 0) — the role separation PageRank can't express
        edges = [(0, i) for i in range(1, 5)]
        hub, auth = self._run(spark, edges, iters=2)
        assert auth["0"] == 0 and hub["0"] == 10**12
        for i in "1234":
            assert hub[i] == 0 and auth[i] == (10**12) // 4

    def test_self_loop_and_dangling(self, spark):
        edges = [(0, 0), (0, 1)]
        hub, auth = self._run(spark, edges, iters=4)
        want_h, want_a = py_hits(edges, iters=4)
        assert hub == want_h and auth == want_a

    def test_iters_guard(self, spark):
        from pawpaw_spark.operators.graph import hits

        with pytest.raises(ValueError, match="iters"):
            hits(_edge_df(spark, [(0, 1)]), iters=0)

    def test_float_columns_are_fp_division(self, spark):
        from pawpaw_spark.operators.graph import hits

        rows = hits(_edge_df(spark, RING_HUB), iters=2).collect()
        for r in rows:
            assert r.hub == r.hub_fp / 1e12
            assert r.auth == r.auth_fp / 1e12

    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 9), st.integers(0, 9)),
            min_size=1,
            max_size=25,
        )
    )
    @settings(max_examples=15, deadline=None, derandomize=True)
    def test_property_exact(self, spark, edges):
        hub, auth = self._run(spark, edges, iters=3)
        want_h, want_a = py_hits(edges, iters=3)
        assert hub == want_h and auth == want_a


def py_walks(edges, starts, length, seed="w0", wps=1):
    import hashlib

    adj = {}
    for a, b in {(str(x), str(y)) for x, y in edges}:
        adj.setdefault(a, set()).add(b)
    rows = set()
    for s0 in {str(s) for s in starts}:
        for i in range(wps):
            wid = f"{s0}#{i}"
            cur = s0
            rows.add((wid, 0, cur))
            for step in range(1, length + 1):
                nbrs = adj.get(cur)
                if not nbrs:
                    break
                cur = min(
                    nbrs,
                    key=lambda d: (
                        hashlib.md5(
                            f"{seed}:{wid}:{step}:{d}".encode()
                        ).hexdigest(),
                        d,
                    ),
                )
                rows.add((wid, step, cur))
    return rows


def _starts_df(spark, nodes):
    return spark.createDataFrame([(str(n),) for n in nodes], "node string")


class TestRandomWalks:
    def _run(self, spark, edges, starts, **kw):
        from pawpaw_spark.operators.graph import random_walks

        return {
            (r.walk_id, r.step, r.node)
            for r in random_walks(
                _edge_df(spark, edges), _starts_df(spark, starts), **kw
            ).collect()
        }

    def test_matches_python_ring_hub(self, spark):
        starts = sorted({str(a) for a, _ in RING_HUB})
        got = self._run(spark, RING_HUB, starts, length=4)
        assert got == py_walks(RING_HUB, starts, 4)

    def test_dangling_stops_early(self, spark):
        # 0 -> 1, 1 has no out-edges: walk from 0 is exactly 2 rows
        got = self._run(spark, [(0, 1)], ["0"], length=5)
        assert got == {("0#0", 0, "0"), ("0#0", 1, "1")}

    def test_start_not_in_graph(self, spark):
        got = self._run(spark, [(0, 1)], ["9"], length=3)
        assert got == {("9#0", 0, "9")}

    def test_multiple_walks_and_rerun_determinism(self, spark):
        a = self._run(spark, RING_HUB, ["0", "1"], length=3,
                      walks_per_start=3, seed="s1")
        b = self._run(spark, RING_HUB, ["0", "1"], length=3,
                      walks_per_start=3, seed="s1")
        assert a == b == py_walks(RING_HUB, ["0", "1"], 3, seed="s1", wps=3)
        assert {w for w, _, _ in a} == {
            f"{s}#{i}" for s in "01" for i in range(3)
        }

    def test_length_zero(self, spark):
        got = self._run(spark, RING_HUB, ["2"], length=0)
        assert got == {("2#0", 0, "2")}

    def test_guards(self, spark):
        from pawpaw_spark.operators.graph import random_walks

        with pytest.raises(ValueError, match="length"):
            random_walks(
                _edge_df(spark, [(0, 1)]), _starts_df(spark, ["0"]),
                length=-1,
            )
        with pytest.raises(ValueError, match="walks_per_start"):
            random_walks(
                _edge_df(spark, [(0, 1)]), _starts_df(spark, ["0"]),
                walks_per_start=0,
            )

    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 7), st.integers(0, 7)),
            min_size=1,
            max_size=20,
        ),
        length=st.integers(1, 5),
    )
    @settings(max_examples=12, deadline=None, derandomize=True)
    def test_property_matches_python(self, spark, edges, length):
        starts = sorted({str(a) for a, _ in edges})[:4]
        got = self._run(spark, edges, starts, length=length, seed="pp")
        assert got == py_walks(edges, starts, length, seed="pp")


class TestWalkPairs:
    def _walks_df(self, spark, rows):
        return spark.createDataFrame(
            rows, "walk_id string, step int, node string"
        )

    @staticmethod
    def py_pairs(rows, window):
        from collections import Counter

        by_walk = {}
        for w, s, n in rows:
            by_walk.setdefault(w, []).append((s, n))
        c = Counter()
        for seq in by_walk.values():
            for s1, n1 in seq:
                for s2, n2 in seq:
                    if 1 <= abs(s1 - s2) <= window:
                        c[(n1, n2)] += 1
        return c

    def test_multiset_matches_python(self, spark):
        from collections import Counter

        from pawpaw_spark.operators.graph import walk_pairs

        rows = [
            ("w1", 0, "a"), ("w1", 1, "b"), ("w1", 2, "a"), ("w1", 3, "c"),
            ("w2", 0, "x"), ("w2", 1, "y"),
        ]
        got = Counter(
            (r.center, r.context)
            for r in walk_pairs(self._walks_df(spark, rows), window=2).collect()
        )
        assert got == self.py_pairs(rows, 2)

    def test_window_one_adjacent_only(self, spark):
        from collections import Counter

        from pawpaw_spark.operators.graph import walk_pairs

        rows = [("w", 0, "a"), ("w", 1, "b"), ("w", 2, "c")]
        got = Counter(
            (r.center, r.context)
            for r in walk_pairs(self._walks_df(spark, rows), window=1).collect()
        )
        assert got == self.py_pairs(rows, 1)
        assert ("a", "c") not in got

    def test_include_step(self, spark):
        from pawpaw_spark.operators.graph import walk_pairs

        rows = [("w", 0, "a"), ("w", 1, "b")]
        got = {
            tuple(r)
            for r in walk_pairs(
                self._walks_df(spark, rows), window=2, include_step=True
            ).collect()
        }
        assert got == {("w", 0, 1, "a", "b"), ("w", 1, 0, "b", "a")}

    def test_end_to_end_with_random_walks(self, spark):
        from collections import Counter

        from pawpaw_spark.operators.graph import random_walks, walk_pairs

        walks = random_walks(
            _edge_df(spark, RING_HUB), _starts_df(spark, ["0", "1"]),
            length=4, seed="e2e",
        )
        rows = [(r.walk_id, r.step, r.node) for r in walks.collect()]
        got = Counter(
            (r.center, r.context)
            for r in walk_pairs(walks, window=2).collect()
        )
        assert got == self.py_pairs(rows, 2)

    def test_window_guard(self, spark):
        from pawpaw_spark.operators.graph import walk_pairs

        with pytest.raises(ValueError, match="window"):
            walk_pairs(self._walks_df(spark, [("w", 0, "a")]), window=0)


class TestNegativeSamples:
    @staticmethod
    def py_negatives(pairs, nodes, k, seed):
        import hashlib

        idx = {i: n for i, n in enumerate(sorted(set(nodes)))}
        n = len(idx)
        out = set()
        for c, x in set(pairs):
            for j in range(k):
                h = hashlib.md5(f"{seed}:{c}:{x}:{j}".encode()).hexdigest()
                neg = idx[int(h[:15], 16) % n]
                if neg != c and neg != x:
                    out.add((c, x, j, neg))
        return out

    def _run(self, spark, pairs, nodes, k, seed="n0"):
        from pawpaw_spark.operators.graph import negative_samples, node_index

        pdf = spark.createDataFrame(
            list(set(pairs)), "center string, context string"
        )
        ndf = node_index(
            spark.createDataFrame([(x,) for x in set(nodes)], "node string")
        )
        return {
            (r.center, r.context, r.j, r.neg)
            for r in negative_samples(pdf, ndf, k=k, seed=seed).collect()
        }

    def test_matches_python(self, spark):
        nodes = [f"n{i}" for i in range(17)]
        pairs = [("n0", "n1"), ("n1", "n2"), ("n5", "n0"), ("n9", "n16")]
        got = self._run(spark, pairs, nodes, k=3)
        assert got == self.py_negatives(pairs, nodes, 3, "n0")
        assert got  # non-vacuous

    def test_collisions_dropped(self, spark):
        # 2 nodes: every draw lands on one of the pair's own endpoints
        got = self._run(spark, [("a", "b")], ["a", "b"], k=4)
        assert got == set()

    def test_deterministic_and_seed_sensitive(self, spark):
        nodes = [f"n{i}" for i in range(31)]
        pairs = [(f"n{i}", f"n{i+1}") for i in range(10)]
        a = self._run(spark, pairs, nodes, k=2, seed="s")
        b = self._run(spark, pairs, nodes, k=2, seed="s")
        assert a == b == self.py_negatives(pairs, nodes, 2, "s")

    def test_guards(self, spark):
        from pawpaw_spark.operators.graph import negative_samples, node_index

        pdf = spark.createDataFrame(
            [("a", "b")], "center string, context string"
        )
        ndf = node_index(spark.createDataFrame([("a",)], "node string"))
        with pytest.raises(ValueError, match="k must"):
            negative_samples(pdf, ndf, k=0)
        empty = node_index(
            spark.createDataFrame([], "node string")
        )
        with pytest.raises(ValueError, match="empty"):
            negative_samples(pdf, empty, k=1)

    def test_node_index_dense_and_sorted(self, spark):
        from pawpaw_spark.operators.graph import node_index

        got = {
            r.node: r.idx
            for r in node_index(
                spark.createDataFrame(
                    [("b",), ("a",), ("c",), ("a",)], "node string"
                )
            ).collect()
        }
        assert got == {"a": 0, "b": 1, "c": 2}


def _py_louvain(edge_list, max_levels=3, max_rounds=8):
    """Pure-Python mirror of graph.louvain's fixed-freedom rules:
    md5-parity synchronous rounds, exact-integer gain argmax with
    smallest-community ties, quiet-cycle level exit, coarsening with
    self loops, min-member canonical labels."""
    import hashlib

    def parity(n):
        return int(hashlib.md5(str(n).encode()).hexdigest()[:8], 16) % 2

    und = {}
    for s, d in edge_list:
        if s == d:
            continue
        a, b = min(s, d), max(s, d)
        und[(a, b)] = 1  # simple projection: duplicates collapse
    m = len(und)
    if m == 0:
        return {}
    m2 = 2 * m
    we = dict(und)
    loops: dict = {}
    gmap = None
    for _level in range(max_levels):
        nodes = sorted({x for e in we for x in e} | set(loops))
        k = {n: 0 for n in nodes}
        for (a, b), w in we.items():
            k[a] += w
            k[b] += w
        for n, lw in loops.items():
            k[n] += 2 * lw
        assign = {n: n for n in nodes}
        adj: dict = {n: {} for n in nodes}
        for (a, b), w in we.items():
            adj[a][b] = adj[a].get(b, 0) + w
            adj[b][a] = adj[b].get(a, 0) + w
        total_moves, quiet = 0, 0
        for r in range(max_rounds):
            tot: dict = {}
            for n, c in assign.items():
                tot[c] = tot.get(c, 0) + k[n]
            nxt = dict(assign)
            moves = 0
            for i in nodes:
                kiin: dict = {}
                for j, w in adj[i].items():
                    cj = assign[j]
                    kiin[cj] = kiin.get(cj, 0) + w
                ci = assign[i]
                kiin.setdefault(ci, 0)
                best = None
                for c, kin in kiin.items():
                    t = tot[c] - (k[i] if c == ci else 0)
                    score = m2 * kin - k[i] * t
                    key = (-score, c)
                    if best is None or key < best[0]:
                        best = (key, c)
                if parity(i) == r % 2 and best[1] != ci:
                    nxt[i] = best[1]
                    moves += 1
            assign = nxt
            total_moves += moves
            quiet = quiet + 1 if moves == 0 else 0
            if quiet >= 2:
                break
        gmap = (
            dict(assign)
            if gmap is None
            else {n: assign[c] for n, c in gmap.items()}
        )
        if total_moves == 0:
            break
        new_we: dict = {}
        new_loops: dict = {}
        for (a, b), w in we.items():
            ca, cb = assign[a], assign[b]
            if ca == cb:
                new_loops[ca] = new_loops.get(ca, 0) + w
            else:
                key = (min(ca, cb), max(ca, cb))
                new_we[key] = new_we.get(key, 0) + w
        for n, lw in loops.items():
            c = assign[n]
            new_loops[c] = new_loops.get(c, 0) + lw
        we, loops = new_we, new_loops
        if not we:
            break
    members: dict = {}
    for n, c in gmap.items():
        members.setdefault(c, []).append(n)
    label = {c: min(ms) for c, ms in members.items()}
    return {n: label[c] for n, c in gmap.items()}


class TestLouvain:
    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, "src string, dst string")

    def test_two_cliques_bridge(self, spark):
        from pawpaw_spark.operators.graph import louvain

        rows = []
        for grp in ("abcd", "wxyz"):
            for i in range(4):
                for j in range(i + 1, 4):
                    rows.append((grp[i], grp[j]))
        rows.append(("d", "w"))  # bridge
        got = {
            r.node: r.community
            for r in louvain(self._edges(spark, rows)).collect()
        }
        assert got == _py_louvain(rows)
        # the mirror agrees AND the partition is the planted one
        assert len({got[c] for c in "abcd"}) == 1
        assert len({got[c] for c in "wxyz"}) == 1
        assert got["a"] != got["w"]

    def test_matches_mirror_on_irregular_graphs(self, spark):
        from pawpaw_spark.operators.graph import louvain

        cases = [
            # ring of 6
            [(str(i), str((i + 1) % 6)) for i in range(6)],
            # star + tail
            [("h", x) for x in "abcde"] + [("a", "b"), ("e", "t1"), ("t1", "t2")],
            # two triangles sharing a node
            [("a", "b"), ("b", "c"), ("c", "a"),
             ("c", "d"), ("d", "e"), ("e", "c")],
            # parallel + self edges exercise the simple projection
            [("a", "b"), ("b", "a"), ("a", "a"), ("b", "c"), ("c", "a")],
        ]
        for rows in cases:
            got = {
                r.node: r.community
                for r in louvain(self._edges(spark, rows)).collect()
            }
            assert got == _py_louvain(rows), rows

    def test_modularity_improves_on_planted(self, spark):
        from pawpaw_spark.operators.graph import louvain, modularity_terms

        rows = []
        for base in (0, 10, 20):
            ids = [f"n{base + i}" for i in range(5)]
            for i in range(5):
                for j in range(i + 1, 5):
                    rows.append((ids[i], ids[j]))
        rows += [("n0", "n10"), ("n10", "n20")]
        e = self._edges(spark, rows)
        part = louvain(e).withColumnRenamed("community", "community")
        q_l = sum(
            r.contrib
            for r in modularity_terms(
                e, part, node_col="node", community_col="community"
            ).collect()
        )
        singleton = e.selectExpr("src as node").union(
            e.selectExpr("dst as node")
        ).distinct().withColumn("community", F.col("node"))
        q_s = sum(
            r.contrib
            for r in modularity_terms(e, singleton).collect()
        )
        assert q_l > q_s

    def test_deterministic_across_partitioning(self, spark):
        from pawpaw_spark.operators.graph import louvain

        rows = [(str(i), str((i + 1) % 8)) for i in range(8)] + [
            ("0", "4"), ("2", "6")
        ]
        e1 = self._edges(spark, rows).repartition(1)
        e2 = self._edges(spark, rows).repartition(16)
        g1 = {r.node: r.community for r in louvain(e1).collect()}
        g2 = {r.node: r.community for r in louvain(e2).collect()}
        assert g1 == g2

    def test_empty_graph(self, spark):
        from pawpaw_spark.operators.graph import louvain

        out = louvain(self._edges(spark, [("a", "a")]))  # only a self loop
        assert out.count() == 0


def _py_ktruss(edge_list, k):
    """Pure-Python parallel-peeling k-truss mirror."""
    und = {
        (min(s, d), max(s, d))
        for s, d in edge_list
        if s != d
    }
    if k <= 2:
        return und
    while True:
        adj: dict = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        keep = {
            (a, b)
            for a, b in und
            if len(adj[a] & adj[b]) >= k - 2
        }
        if keep == und:
            return und
        und = keep
        if not und:
            return und


class TestKtruss:
    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, "src string, dst string")

    def test_support_and_truss_on_clique_plus_tail(self, spark):
        from pawpaw_spark.operators.graph import (
            edge_support,
            ktruss,
            undirected_edges,
        )

        # K4 on abcd + a tail d-e-f and one extra triangle d-e-g... no:
        # tail edges have support 0, the d-e-g triangle gives those
        # edges support 1
        rows = [
            ("a", "b"), ("a", "c"), ("a", "d"),
            ("b", "c"), ("b", "d"), ("c", "d"),
            ("d", "e"), ("e", "f"),
            ("e", "g"), ("d", "g"),
        ]
        e = self._edges(spark, rows)
        sup = {
            (r.a, r.b): r.support
            for r in edge_support(undirected_edges(e)).collect()
        }
        assert sup[("a", "b")] == 2  # triangles abc, abd
        assert sup[("d", "e")] == 1  # triangle deg
        assert sup[("e", "f")] == 0
        for k in (3, 4, 5):
            got = {(r.a, r.b) for r in ktruss(e, k).collect()}
            assert got == _py_ktruss(rows, k), k
        # 4-truss is exactly the K4; 5-truss empty
        assert {(r.a, r.b) for r in ktruss(e, 4).collect()} == {
            ("a", "b"), ("a", "c"), ("a", "d"),
            ("b", "c"), ("b", "d"), ("c", "d"),
        }
        assert ktruss(e, 5).count() == 0

    def test_cascade_peel(self, spark):
        from pawpaw_spark.operators.graph import ktruss

        # chain of triangles: peeling one layer cascades
        rows = []
        for i in range(5):
            a, b, c = f"x{i}", f"x{i+1}", f"y{i}"
            rows += [(a, b), (a, c), (b, c)]
        got = {(r.a, r.b) for r in ktruss(self._edges(spark, rows), 3).collect()}
        assert got == _py_ktruss(rows, 3)
        assert ktruss(self._edges(spark, rows), 4).count() == 0

    def test_k2_is_projection(self, spark):
        from pawpaw_spark.operators.graph import ktruss

        rows = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "c")]
        got = {(r.a, r.b) for r in ktruss(self._edges(spark, rows), 2).collect()}
        assert got == {("a", "b"), ("b", "c")}


def _py_biased_walks(edge_list, start_nodes, length, w_return, w_common,
                     w_far, seed="n2v0", walks_per_start=1):
    """Pure-Python mirror of graph.biased_walks' recurrence."""
    import hashlib

    adj: dict = {}
    eset = set()
    for s, d in set(edge_list):
        adj.setdefault(s, set()).add(d)
        eset.add((s, d))
    rows = []
    for n in sorted(set(start_nodes)):
        for i in range(walks_per_start):
            wid = f"{n}#{i}"
            prev, cur = None, n
            rows.append((wid, 0, cur))
            for step in range(1, length + 1):
                nbrs = sorted(adj.get(cur, ()))
                if not nbrs:
                    break
                ws = []
                for d in nbrs:
                    if prev is None:
                        ws.append(w_common)
                    elif d == prev:
                        ws.append(w_return)
                    elif (prev, d) in eset:
                        ws.append(w_common)
                    else:
                        ws.append(w_far)
                total = sum(ws)
                h = int(
                    hashlib.md5(f"{seed}:{wid}:{step}".encode())
                    .hexdigest()[:8],
                    16,
                )
                r = h % total
                acc = 0
                for d, w in zip(nbrs, ws):
                    if acc <= r < acc + w:
                        nxt = d
                        break
                    acc += w
                prev, cur = cur, nxt
                rows.append((wid, step, cur))
    return set(rows)


class TestBiasedWalks:
    def _graph(self, spark):
        rows = [
            ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
            ("b", "d"), ("d", "b"), ("c", "d"), ("d", "c"),
            ("d", "e"), ("e", "d"), ("a", "c"), ("c", "a"),
        ]
        return rows, spark.createDataFrame(rows, "src string, dst string")

    def test_matches_mirror_across_biases(self, spark):
        from pawpaw_spark.operators.graph import biased_walks

        rows, e = self._graph(spark)
        starts = spark.createDataFrame([("a",), ("d",)], "node string")
        for wr, wc, wf in ((1, 1, 1), (1, 4, 16), (8, 2, 1)):
            got = {
                (r.walk_id, r.step, r.node)
                for r in biased_walks(
                    e, starts, length=5, w_return=wr, w_common=wc,
                    w_far=wf, walks_per_start=2,
                ).collect()
            }
            want = _py_biased_walks(
                rows, ["a", "d"], 5, wr, wc, wf, walks_per_start=2
            )
            assert got == want, (wr, wc, wf)

    def test_sink_ends_walk(self, spark):
        from pawpaw_spark.operators.graph import biased_walks

        e = spark.createDataFrame(
            [("a", "b"), ("b", "sink")], "src string, dst string"
        )
        starts = spark.createDataFrame([("a",)], "node string")
        got = sorted(
            (r.step, r.node)
            for r in biased_walks(e, starts, length=9).collect()
        )
        assert got == [(0, "a"), (1, "b"), (2, "sink")]

    def test_bias_shifts_distribution(self, spark):
        from pawpaw_spark.operators.graph import biased_walks

        # star: hub h with spokes; from a spoke, step 2 either returns
        # to the spoke (w_return) or goes far (w_far). With w_return
        # huge, every walk bounces back; with w_far huge, none does.
        e = []
        for x in "abcdefgh":
            e += [("hub", x), (x, "hub")]
        edf = spark.createDataFrame(e, "src string, dst string")
        starts = spark.createDataFrame([(x,) for x in "abcdefgh"],
                                       "node string")

        def step2(wr, wf):
            out = biased_walks(
                edf, starts, length=2, w_return=wr, w_common=1, w_far=wf
            )
            return {
                r.walk_id: r.node for r in out.filter("step = 2").collect()
            }

        bounce = step2(1000000, 1)
        assert all(w.split("#")[0] == n for w, n in bounce.items())
        roam = step2(1, 1000000)
        assert all(w.split("#")[0] != n for w, n in roam.items())

    def test_validation(self, spark):
        from pawpaw_spark.operators.graph import biased_walks

        _, e = self._graph(spark)
        starts = spark.createDataFrame([("a",)], "node string")
        with pytest.raises(ValueError, match=">= 1"):
            biased_walks(e, starts, length=2, w_return=0)


class TestGraphStats:
    def test_known_graph(self, spark):
        from pawpaw_spark.operators.graph import graph_stats

        # a<->b mutual, a->c, c->c self-loop (mutual by definition),
        # duplicate edge collapses
        e = spark.createDataFrame(
            [("a", "b"), ("b", "a"), ("a", "c"), ("c", "c"), ("a", "c")],
            "src string, dst string",
        )
        [r] = graph_stats(e).collect()
        assert r.n_nodes == 3 and r.n_edges == 4
        assert r.n_self_loops == 1
        assert r.n_mutual == 3  # a->b, b->a, c->c
        assert r.reciprocity == 0.75
        assert r.max_out_deg == 2 and r.max_in_deg == 2

    def test_assortativity_matches_numpy(self, spark):
        import numpy as np

        from pawpaw_spark.operators.graph import graph_stats

        edges = [("h", f"l{i}") for i in range(5)] + [
            ("l0", "l1"), ("l1", "l2"), ("l2", "h")
        ]
        e = spark.createDataFrame(edges, "src string, dst string")
        [r] = graph_stats(e).collect()
        out_deg, in_deg = {}, {}
        for s, d in edges:
            out_deg[s] = out_deg.get(s, 0) + 1
            in_deg[d] = in_deg.get(d, 0) + 1
        xs = np.array([out_deg[s] for s, d in edges], dtype=float)
        ys = np.array([in_deg[d] for s, d in edges], dtype=float)
        expect = round(float(np.corrcoef(xs, ys)[0, 1]), 6)
        assert r.assortativity == expect

    def test_no_mutual_edges(self, spark):
        from pawpaw_spark.operators.graph import graph_stats

        e = spark.createDataFrame(
            [("a", "b"), ("b", "c")], "src string, dst string"
        )
        [r] = graph_stats(e).collect()
        assert r.n_mutual == 0 and r.reciprocity == 0.0
        # zero-variance degree sequence -> NULL, not a divide error
        assert r.assortativity is None


def _mirror_triad_census(edges):
    """Brute-force O(n^3) census from first-principles MAN rules."""
    import itertools

    E = set(edges)
    nodes = sorted({x for ed in edges for x in ed})
    cnt = {t: 0 for t in (
        "003", "012", "102", "021D", "021U", "021C", "111D", "111U",
        "030T", "030C", "201", "120D", "120U", "120C", "210", "300",
    )}

    def dt(p, q):
        f, b = (p, q) in E, (q, p) in E
        return "M" if f and b else ("A" if f or b else "N")

    for u, v, w in itertools.combinations(nodes, 3):
        pairs = [(u, v), (u, w), (v, w)]
        ds = [dt(*p) for p in pairs]
        M, A = ds.count("M"), ds.count("A")
        if M == 3:
            t = "300"
        elif M == 2 and A == 1:
            t = "210"
        elif M == 2:
            t = "201"
        elif M == 1 and A == 2:
            mp = pairs[ds.index("M")]
            third = ({u, v, w} - set(mp)).pop()
            outs = sum(1 for q in mp if (third, q) in E)
            t = "120D" if outs == 2 else ("120U" if outs == 0 else "120C")
        elif M == 1 and A == 1:
            mp = pairs[ds.index("M")]
            ap = pairs[ds.index("A")]
            member = (set(ap) & set(mp)).pop()
            third = (set(ap) - set(mp)).pop()
            t = "111U" if (member, third) in E else "111D"
        elif M == 1:
            t = "102"
        elif A == 3:
            outd = {
                x: sum(1 for y in (u, v, w) if x != y and (x, y) in E)
                for x in (u, v, w)
            }
            t = "030C" if all(o == 1 for o in outd.values()) else "030T"
        elif A == 2:
            aps = [p for p, d in zip(pairs, ds) if d == "A"]
            c = (set(aps[0]) & set(aps[1])).pop()
            arms = [(set(p) - {c}).pop() for p in aps]
            co = sum(1 for x in arms if (c, x) in E)
            t = "021D" if co == 2 else ("021U" if co == 0 else "021C")
        elif A == 1:
            t = "012"
        else:
            t = "003"
        cnt[t] += 1
    return cnt


class TestTriadCensus:
    def _run(self, spark, edges):
        from pawpaw_spark.operators.graph import triad_census

        e = spark.createDataFrame(edges, "src string, dst string")
        [r] = triad_census(e).collect()
        return {k[1:]: v for k, v in r.asDict().items()}

    def test_known_small_graphs(self, spark):
        # complete mutual K3 -> one 300
        got = self._run(spark, [("a", "b"), ("b", "a"), ("a", "c"),
                                ("c", "a"), ("b", "c"), ("c", "b")])
        assert got["300"] == 1 and sum(got.values()) == 1
        # directed 3-cycle -> 030C; transitive triple -> 030T
        assert self._run(spark, [("a", "b"), ("b", "c"), ("c", "a")])["030C"] == 1
        assert self._run(spark, [("a", "b"), ("b", "c"), ("a", "c")])["030T"] == 1
        # out-star / in-star / chain on 3 nodes
        assert self._run(spark, [("b", "a"), ("b", "c")])["021D"] == 1
        assert self._run(spark, [("a", "b"), ("c", "b")])["021U"] == 1
        assert self._run(spark, [("a", "b"), ("b", "c")])["021C"] == 1

    def test_mirror_fixed_graphs(self, spark):
        cases = [
            # every 111/120/201/210 shape plus disconnected classes
            [("a", "b"), ("b", "a"), ("c", "a")],                 # 111D
            [("a", "b"), ("b", "a"), ("a", "c")],                 # 111U
            [("a", "b"), ("b", "a"), ("c", "a"), ("c", "b")],     # 120D
            [("a", "b"), ("b", "a"), ("a", "c"), ("b", "c")],     # 120U
            [("a", "b"), ("b", "a"), ("a", "c"), ("c", "b")],     # 120C
            [("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"),
             ("b", "c")],                                          # 210
            [("a", "b"), ("b", "a"), ("d", "e")],                 # mixed + nulls
            [("a", "b"), ("c", "d"), ("e", "a"), ("d", "a"),
             ("b", "c"), ("c", "b")],
        ]
        for edges in cases:
            assert self._run(spark, edges) == _mirror_triad_census(edges), edges

    def test_mirror_random_digraphs(self, spark):
        import random

        rng = random.Random(7)
        for trial in range(4):
            n = rng.randint(4, 8)
            nodes = [f"n{i}" for i in range(n)]
            edges = [
                (u, v)
                for u in nodes for v in nodes
                if u != v and rng.random() < 0.35
            ]
            if not edges:
                continue
            assert self._run(spark, edges) == _mirror_triad_census(edges), (
                trial, edges,
            )

    def test_total_is_n_choose_3_and_connected_only_mode(self, spark):
        from pawpaw_spark.operators.graph import triad_census

        edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"),
                 ("d", "b"), ("e", "a")]
        e = spark.createDataFrame(edges, "src string, dst string")
        [r] = triad_census(e).collect()
        n = 5
        assert sum(r.asDict().values()) == n * (n - 1) * (n - 2) // 6
        [r2] = triad_census(e, include_disconnected=False).collect()
        assert set(r2.asDict()) == {
            "t021D", "t021U", "t021C", "t111D", "t111U", "t030T",
            "t030C", "t201", "t120D", "t120U", "t120C", "t210", "t300",
        }


def _mirror_temporal(edges, seeds):
    """Brute-force earliest-arrival over time-respecting paths."""
    best = {}
    for n, t in seeds:
        best[n] = min(t, best.get(n, t))
    changed = True
    while changed:
        changed = False
        for s, d, t in edges:
            if s in best and t >= best[s]:
                if d not in best or t < best[d]:
                    best[d] = t
                    changed = True
    return best


class TestTemporalReachability:
    def _run(self, spark, edges, seeds):
        from pawpaw_spark.operators.graph import temporal_reachability

        e = spark.createDataFrame(edges, "src string, dst string, t long")
        s = spark.createDataFrame(seeds, "node string, t long")
        return {
            r.node: r.earliest
            for r in temporal_reachability(e, s).collect()
        }

    def test_time_guard_blocks_stale_edges(self, spark):
        edges = [("a", "b", 5), ("b", "c", 3), ("b", "d", 7)]
        got = self._run(spark, edges, [("a", 0)])
        # b reached at 5; the t=3 edge to c is in the past -> c absent
        assert got == {"a": 0, "b": 5, "d": 7}

    def test_earliest_wins_across_paths(self, spark):
        edges = [("a", "b", 2), ("b", "d", 9), ("a", "c", 1),
                 ("c", "d", 4), ("d", "e", 4)]
        got = self._run(spark, edges, [("a", 0)])
        assert got["d"] == 4 and got["e"] == 4

    def test_late_improvement_reopens_node(self, spark):
        # first reach d at 9 via b; the c path later improves d to 4,
        # which unlocks the t=5 edge out of d — the reopened frontier
        edges = [("a", "b", 2), ("b", "d", 9), ("a", "c", 3),
                 ("c", "d", 4), ("d", "e", 5)]
        got = self._run(spark, edges, [("a", 0)])
        assert got["d"] == 4 and got["e"] == 5

    def test_mirror_random(self, spark):
        import random

        rng = random.Random(11)
        for _ in range(3):
            n = rng.randint(4, 7)
            nodes = [f"n{i}" for i in range(n)]
            edges = [
                (u, v, rng.randint(0, 9))
                for u in nodes for v in nodes
                if u != v and rng.random() < 0.4
            ]
            seeds = [(nodes[0], 0), (nodes[-1], 3)]
            got = self._run(spark, edges, seeds)
            assert got == _mirror_temporal(edges, seeds)

    def test_nonconvergence_guard(self, spark):
        from pawpaw_spark.operators.graph import temporal_reachability

        # a strictly lengthening improvement chain longer than max_rounds
        edges = [(f"n{i}", f"n{i+1}", i) for i in range(6)]
        e = spark.createDataFrame(edges, "src string, dst string, t long")
        s = spark.createDataFrame([("n0", 0)], "node string, t long")
        with pytest.raises(RuntimeError, match="did not converge"):
            temporal_reachability(e, s, max_rounds=2).collect()


class TestShortestPathTree:
    def _run(self, spark, edges, seeds, **kw):
        from pawpaw_spark.operators.graph import shortest_path_tree

        e = spark.createDataFrame(edges, "src string, dst string")
        s = spark.createDataFrame([(x,) for x in seeds], "node string")
        return {
            r.node: (r.depth, r.parent)
            for r in shortest_path_tree(e, s, **kw).collect()
        }

    def test_min_parent_tie_break(self, spark):
        # d reachable at depth 2 via both b and c -> parent = min = b
        edges = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]
        got = self._run(spark, edges, ["a"])
        assert got == {"a": (0, None), "b": (1, "a"),
                       "c": (1, "a"), "d": (2, "b")}

    def test_path_assembly_and_depth_cut(self, spark):
        edges = [("a", "b"), ("b", "c"), ("c", "d")]
        got = self._run(spark, edges, ["a"], max_depth=2)
        assert "d" not in got and got["c"] == (2, "b")
        # walk parents back to the seed
        node, path = "c", []
        while node is not None:
            path.append(node)
            node = got[node][1]
        assert path == ["c", "b", "a"]

    def test_mirror_random(self, spark):
        import random
        from collections import deque

        rng = random.Random(13)
        for _ in range(3):
            n = rng.randint(5, 9)
            nodes = [f"n{i}" for i in range(n)]
            edges = [
                (u, v) for u in nodes for v in nodes
                if u != v and rng.random() < 0.3
            ]
            if not edges:
                continue
            seeds = [nodes[0], nodes[1]]
            # BFS mirror with min-parent tie-break
            adj = {}
            for u, v in edges:
                adj.setdefault(u, []).append(v)
            depth = {s: 0 for s in seeds}
            parent = {s: None for s in seeds}
            frontier = set(seeds)
            d = 0
            while frontier:
                d += 1
                cands = {}
                for u in frontier:
                    for v in adj.get(u, []):
                        if v not in depth:
                            cands.setdefault(v, []).append(u)
                frontier = set()
                for v, ps in cands.items():
                    depth[v], parent[v] = d, min(ps)
                    frontier.add(v)
            expect = {v: (depth[v], parent[v]) for v in depth}
            assert self._run(spark, edges, seeds) == expect


class TestConductance:
    def _run(self, spark, edges, assign):
        from pawpaw_spark.operators.graph import conductance

        e = spark.createDataFrame(edges, "src string, dst string")
        a = spark.createDataFrame(assign, "node string, community long")
        return {
            r.community: r.asDict()
            for r in conductance(e, a).collect()
        }

    def test_two_triangles_one_bridge(self, spark):
        # two triangles joined by one bridge edge: vol=7 each side,
        # total_vol=14, phi = 1/7 both
        edges = [("a", "b"), ("b", "c"), ("c", "a"),
                 ("x", "y"), ("y", "z"), ("z", "x"), ("a", "x")]
        assign = [("a", 0), ("b", 0), ("c", 0),
                  ("x", 1), ("y", 1), ("z", 1)]
        got = self._run(spark, edges, assign)
        for c in (0, 1):
            r = got[c]
            assert r["internal_edges"] == 3 and r["cut_edges"] == 1
            assert r["volume"] == 7
            assert r["conductance"] == round(1 / 7, 6)

    def test_direction_and_duplicates_collapse(self, spark):
        # reverse + duplicate directed edges are ONE support edge
        edges = [("a", "b"), ("b", "a"), ("a", "b"), ("b", "c")]
        assign = [("a", 0), ("b", 0), ("c", 1)]
        got = self._run(spark, edges, assign)
        assert got[0]["internal_edges"] == 1 and got[0]["cut_edges"] == 1
        assert got[1]["internal_edges"] == 0 and got[1]["cut_edges"] == 1
        # community 1 is the smaller side: phi = 1/min(1, 5) = 1.0
        assert got[1]["conductance"] == 1.0

    def test_unassigned_node_raises(self, spark):
        from pawpaw_spark.operators.graph import conductance

        e = spark.createDataFrame([("a", "b")], "src string, dst string")
        a = spark.createDataFrame([("a", 0)], "node string, community long")
        with pytest.raises(ValueError, match="missing from"):
            conductance(e, a)


def _mirror_wl(edges, rounds):
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    nodes = sorted({x for e in edges for x in e})
    color = {n: md5("wl0") for n in nodes}
    for _ in range(rounds):
        msgs = {n: [] for n in nodes}
        for s, d in set(edges):
            msgs[d].append("i:" + color[s])
            msgs[s].append("o:" + color[d])
        color = {
            n: md5(color[n] + "|" + ",".join(sorted(msgs[n])))
            for n in nodes
        }
    return color


class TestWlColors:
    def _run(self, spark, edges, rounds):
        from pawpaw_spark.operators.graph import wl_colors

        e = spark.createDataFrame(edges, "src string, dst string")
        return {
            r.node: r.color for r in wl_colors(e, rounds=rounds).collect()
        }

    def test_mirror_and_role_separation(self, spark):
        # a path a->b->c->d: after 2 rounds the two interior nodes
        # split (b sees a source behind it, c sees a sink ahead)
        edges = [("a", "b"), ("b", "c"), ("c", "d")]
        got = self._run(spark, edges, 2)
        assert got == _mirror_wl(edges, 2)
        assert got["b"] != got["c"]
        # symmetric endpoints of a 2-cycle share a color at any depth
        edges2 = [("x", "y"), ("y", "x")]
        got2 = self._run(spark, edges2, 3)
        assert got2["x"] == got2["y"]

    def test_mirror_random(self, spark):
        import random

        rng = random.Random(17)
        for _ in range(2):
            n = rng.randint(4, 8)
            nodes = [f"n{i}" for i in range(n)]
            edges = [
                (u, v) for u in nodes for v in nodes
                if u != v and rng.random() < 0.35
            ]
            if not edges:
                continue
            assert self._run(spark, edges, 3) == _mirror_wl(edges, 3)

    def test_round_zero_uniform(self, spark):
        got = self._run(spark, [("a", "b")], 0)
        assert len(set(got.values())) == 1


def py_katz(edges, beta_den=8, max_len=3):
    es = set(edges)
    nodes = {u for e in es for u in e}
    w = {u: 1 for u in nodes}
    acc = {u: 0 for u in nodes}
    for k in range(1, max_len + 1):
        nw = {}
        for (s, d) in es:
            nw[d] = nw.get(d, 0) + w.get(s, 0)
        w = nw
        for u, c in w.items():
            acc[u] += c * beta_den ** (max_len - k)
    return acc


class TestKatzCentrality:
    def _run(self, spark, edges, **kw):
        from pawpaw_spark.operators.graph import katz_centrality

        df = _edge_df(spark, edges)
        return {
            r.node: r.katz_num for r in katz_centrality(df, **kw).collect()
        }

    def test_chain_closed_form(self, spark):
        # a->b->c, K=3, den=8: b gets one 1-walk (64), c one 1-walk +
        # one 2-walk (64 + 8), a nothing
        got = self._run(spark, [("a", "b"), ("b", "c")])
        assert got == {"a": 0, "b": 64, "c": 72}

    def test_self_loop_accumulates(self, spark):
        # loop at a: walks of length 1,2,3 all end at a
        got = self._run(spark, [("a", "a")])
        assert got == {"a": 64 + 8 + 1}

    def test_parallel_edges_collapse(self, spark):
        got = self._run(spark, [("a", "b"), ("a", "b")])
        assert got == {"a": 0, "b": 64}

    def test_cycle_matches_mirror(self, spark):
        edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
        assert self._run(spark, edges) == py_katz(edges)

    def test_star_hub_dominates(self, spark):
        edges = [(f"l{i}", "hub") for i in range(5)]
        got = self._run(spark, edges)
        assert got["hub"] == 5 * 64
        assert all(got[f"l{i}"] == 0 for i in range(5))

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=5),
                st.integers(min_value=0, max_value=5),
            ),
            min_size=1,
            max_size=14,
        )
    )
    def test_random_matches_mirror(self, spark, edges):
        edges = [(f"n{a}", f"n{b}") for a, b in edges]
        assert self._run(spark, edges, max_len=2) == py_katz(edges, max_len=2)

    def test_validation(self, spark):
        from pawpaw_spark.operators.graph import katz_centrality

        df = _edge_df(spark, [("a", "b")])
        with pytest.raises(ValueError, match="beta_den"):
            katz_centrality(df, beta_den=1)
        with pytest.raises(ValueError, match="max_len"):
            katz_centrality(df, max_len=0)


def py_butterflies(edges):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    wedges = bf = 0
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            c = len(adj[a] & adj[b])
            wedges += c
            bf += c * (c - 1) // 2
    return wedges, bf // 2  # each C4 seen from both diagonal pairs


class TestButterflyCount:
    def _run(self, spark, edges, **kw):
        from pawpaw_spark.operators.graph import butterfly_count

        r = butterfly_count(_edge_df(spark, edges), **kw).collect()[0]
        return (r.n_wedges, r.n_butterflies)

    def test_square_is_one_butterfly(self, spark):
        edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
        # 4 wedges (one per opposite pair per middle), 1 butterfly
        assert self._run(spark, edges) == (4, 1)

    def test_complete_bipartite_k23(self, spark):
        edges = [(u, v) for u in ("u1", "u2") for v in ("v1", "v2", "v3")]
        assert self._run(spark, edges) == py_butterflies(edges)
        # closed form: C(2,2)*C(3,2) = 3 butterflies
        assert self._run(spark, edges)[1] == 3

    def test_triangle_has_no_butterfly(self, spark):
        edges = [("a", "b"), ("b", "c"), ("c", "a")]
        assert self._run(spark, edges) == (3, 0)

    def test_empty_pairs(self, spark):
        assert self._run(spark, [("a", "b")]) == (0, 0)

    def test_hub_cap_drops_middle_only(self, spark):
        star = [(f"l{i}", "hub") for i in range(4)]
        # uncapped: hub middles C(4,2)=6 wedges, 0 butterflies
        assert self._run(spark, star) == (6, 0)
        assert self._run(spark, star, max_hub_deg=3) == (0, 0)

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=6),
                st.integers(min_value=0, max_value=6),
            ),
            min_size=1,
            max_size=16,
        )
    )
    def test_random_matches_mirror(self, spark, edges):
        edges = [(f"n{a}", f"n{b}") for a, b in edges if a != b]
        if not edges:
            return
        assert self._run(spark, edges) == py_butterflies(edges)
