"""Plain-Python reference results the benchmark compares the program against.

Each function takes plain Python data collected from committed outputs, so
the references share no code with the program.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from itertools import combinations

# edge threshold of the reference ``cluster()`` (minimel/clean.py)
CLUSTER_THRESHOLD = 0.5


def components(nodes, edges) -> dict:
    """Union-find; every component is labelled by its smallest member."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def reference_name_clusters(name_scores: dict) -> dict:
    """The reference ``cluster()`` edge rule (minimel/clean.py:87-114): two
    anchors are linked when the cosine of their log1p/L2-normalised entity
    weight vectors exceeds ``CLUSTER_THRESHOLD``; clusters are the transitive closure,
    which makes the result independent of the reference's dict walk order."""
    vecs = {}
    for a, ec in name_scores.items():
        lw = {e: math.log1p(c) for e, c in ec.items()}
        norm = math.sqrt(sum(v * v for v in lw.values()))
        vecs[a] = {e: v / norm for e, v in lw.items()}
    by_entity = defaultdict(set)
    for a, es in vecs.items():
        for e in es:
            by_entity[e].add(a)
    edges = []
    for a, es in vecs.items():
        for o in set().union(*(by_entity[e] for e in es)) - {a}:
            if sum(vecs[o][e] * w for e, w in es.items() if e in vecs[o]) > CLUSTER_THRESHOLD:
                edges.append((a, o))
    return components(vecs, edges)


def partition_pair_scores(pred: dict, truth: dict) -> tuple[float, float]:
    """Pairwise (precision, recall) of the ``pred`` partition against ``truth``
    over their common items, from cluster-size counts (no pair enumeration)."""
    keys = pred.keys() & truth.keys()
    pairs = lambda counts: sum(n * (n - 1) // 2 for n in counts.values())  # noqa: E731
    tp = pairs(Counter((pred[k], truth[k]) for k in keys))
    n_pred = pairs(Counter(pred[k] for k in keys))
    n_true = pairs(Counter(truth[k] for k in keys))
    return (tp / n_pred if n_pred else 1.0), (tp / n_true if n_true else 1.0)


def bcubed_scores(pred: dict, truth: dict) -> tuple[float, float]:
    """B-cubed (precision, recall) of ``pred`` against ``truth`` over their
    common items: per item, the share of its predicted cluster that shares its
    true entity, and the share of its true entity inside its predicted
    cluster, each averaged over items."""
    keys = pred.keys() & truth.keys()
    if not keys:
        return 1.0, 1.0
    cells = Counter((pred[k], truth[k]) for k in keys)
    n_pred = Counter(pred[k] for k in keys)
    n_true = Counter(truth[k] for k in keys)
    p = sum(n * n / n_pred[c[0]] for c, n in cells.items()) / len(keys)
    r = sum(n * n / n_true[c[1]] for c, n in cells.items()) / len(keys)
    return p, r


def f1(precision: float, recall: float) -> float:
    return 2 * precision * recall / (precision + recall) if precision + recall else 0.0


def set_scores(got: set, want: set) -> tuple[float, float]:
    """(precision, recall) of a reported pair set against an expected one."""
    tp = len(got & want)
    return (tp / len(got) if got else 1.0), (tp / len(want) if want else 1.0)


def record_truth(records: list[tuple], planted: dict[str, list]) -> dict:
    """Planted entity of each ER record.

    ``records``: ``(rec_id, url, par_id, start, surface)``; ``planted``: per url,
    the generator's ``(paragraph_no, base word, qid)`` links in reading order.
    Within a paragraph, records are aligned in reading order to the planted
    links whose base word opens the record's surface. A record that aligns to
    no link refers to no planted entity and becomes a singleton."""
    by_par = defaultdict(list)
    for rec_id, url, par_id, start, surface in records:
        by_par[(url, par_id)].append((start, rec_id, surface))
    links = defaultdict(list)
    for url, ls in planted.items():
        for par_no, base, qid in ls:
            links[(url, par_no)].append((base, qid))
    truth = {}
    for key, recs in by_par.items():
        todo = links.get(key, [])
        i = 0
        for _, rec_id, surface in sorted(recs):
            word = surface.strip("“”\"' ").split(" ")[0]
            j = next((j for j in range(i, len(todo)) if todo[j][0] == word), None)
            if j is None:
                truth[rec_id] = ("unplanted", rec_id)
            else:
                truth[rec_id] = todo[j][1]
                i = j + 1
    return truth


def jaccard_pairs(docs: list[tuple[int, frozenset]], threshold: float) -> dict:
    """Exact all-pairs Jaccard over shingle sets, via an inverted index:
    ``{(id_a, id_b): jaccard}`` for id_a < id_b and jaccard >= threshold."""
    postings = defaultdict(list)
    for doc_id, sh in docs:
        for s in sh:
            postings[s].append(doc_id)
    shared = Counter()
    for ids in postings.values():
        if len(ids) > 1:
            shared.update(combinations(sorted(ids), 2))
    size = dict((d, len(sh)) for d, sh in docs)
    out = {}
    for (a, b), inter in shared.items():
        j = inter / (size[a] + size[b] - inter)
        if j >= threshold:
            out[(a, b)] = j
    return out
