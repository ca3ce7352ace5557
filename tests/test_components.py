"""Min-label connected components (dedup.resolve_components) against a
Python union-find, on seeded graphs mixing chains, cliques, stars and
isolated pairs, for both doc_id types (bigint and string) and both
lineage modes (localCheckpoint and a reliable checkpoint dir).

Each round is one exchange, and the loop stops on the first round that
moves no label.  The tests record every checkpointed frame, so they
also check the exchange count per round and that the observed
moved-node count ends the loop after exactly the graph's hop depth."""

import itertools
import random
import re
from collections import defaultdict, deque

import pytest

from boilerpipe_coffee_spark.operators import dedup


def _graph(seed: int, n_components: int = 40) -> list[tuple[int, int]]:
    """Undirected edges (a < b) of disjoint chains, cliques, stars and
    pairs over randomly drawn ids, so a component's minimum sits
    anywhere in its shape."""
    rng = random.Random(seed)
    ids = iter(rng.sample(range(100_000), 10 * n_components))
    edges = set()
    for _ in range(n_components):
        shape = rng.choice(("chain", "clique", "star", "pair"))
        size = {"chain": rng.randint(3, 9), "clique": rng.randint(3, 6),
                "star": rng.randint(3, 10), "pair": 2}[shape]
        nodes = [next(ids) for _ in range(size)]
        if shape == "chain":
            es = zip(nodes, nodes[1:])
        elif shape == "clique":
            es = itertools.combinations(nodes, 2)
        else:  # star; a pair is a one-leaf star
            es = ((nodes[0], leaf) for leaf in nodes[1:])
        edges |= {(min(a, b), max(a, b)) for a, b in es}
    return sorted(edges)


def _union_find(edges):
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
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _hops(edges, labels) -> int:
    """Largest distance from a node to its component minimum: the
    number of min-label hops until no label moves."""
    adj = defaultdict(list)
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    depth = 0
    for root in set(labels.values()):
        dist, todo = {root: 0}, deque([root])
        while todo:
            u = todo.popleft()
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    todo.append(v)
        depth = max(depth, *dist.values())
    return depth


@pytest.mark.parametrize("reliable", [False, True], ids=["local", "reliable"])
@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_components_match_union_find(spark, tmp_path, monkeypatch,
                                     id_type, reliable):
    edges = _graph(seed=20261019)
    if id_type == "string":
        # unpadded, so string order differs from numeric order
        edges = sorted(
            (min(f"doc-{a}", f"doc-{b}"), max(f"doc-{a}", f"doc-{b}"))
            for a, b in edges
        )
    want = _union_find(edges)

    plans = []
    ckpt = dedup._ckpt

    def recording_ckpt(df, checkpoint_dir):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return ckpt(df, checkpoint_dir)

    monkeypatch.setattr(dedup, "_ckpt", recording_ckpt)
    pairs = spark.createDataFrame(edges, f"doc_a {id_type}, doc_b {id_type}")
    checkpoint_dir = str(tmp_path / "ckpt") if reliable else None
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.resolve_components(
            pairs, checkpoint_dir=checkpoint_dir
        ).collect()
    }
    assert got == want
    # the initial state applies hop 1; rounds 2..H each move a label
    # and round H+1 moves none, so H + 1 checkpoints in all
    assert len(plans) == _hops(edges, want) + 1
    for plan in plans:
        assert len(re.findall(r"Exchange", plan)) == 1, plan
