"""Graph -> time-series generative kernels (SURVEY §2.5, R1-R7).

The reference walks graphs with UNSEEDED global RNGs
(from_graph/strategy_to_time_sequence.py uses `random` and `np.random`
module state; core/model.py:619-644 drives the walk).  The engine runs the
same walks inside per-series Arrow kernels with EXPLICIT seeded generators —
`random.Random(py_seed)` and `np.random.RandomState(np_seed)` — replicating
the reference's RNG CALL SEQUENCE exactly, so a reference run whose globals
are seeded identically produces bit-identical output (tests/test_generate.py
pins this for every strategy that avoids CPython set-iteration order).

Known, recorded divergence: strategies that draw from
`list(set(nodes) & set(neighbors))` (from_first_graph / across_graphs /
random_degree; strategy_to_time_sequence.py:248-254, 264-268, 287-297)
depend on CPython set iteration order, which is not a reproducible contract
(PYTHONHASHSEED).  The engine uses adjacency insertion order filtered to
graph membership; parity for those is distributional (same support, same
probabilities — uniform; random_degree's overlap weights are constant
across candidates, so it IS uniform: the numerator at :289 does not depend
on the candidate).

Graph model per series (all positional, node ids 0..n-1 in insertion
order):
    values:    list[list[float]]  — per-node 'value' attr list
    neighbors: list[list[int]]    — adjacency in insertion order
For sliding-window graphs a "node" is a whole window-graph; `values` then
holds the per-window flattened node-value lists and `win_nodes` gives each
window's node count.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

import numpy as np


@dataclass
class GraphData:
    """One constituent graph (one variable)."""

    values: list[list[float]]
    neighbors: list[list[int]]
    # sliding-window only: per supernode, list of that window's node value
    # lists (the window graph's own nodes, insertion order)
    win_values: list[list[list[float]]] | None = None
    # ordinal-partition only: per node, the rank tuple
    patterns: list[tuple[int, ...]] | None = None
    # quantile only: bin edges (len Q+1) and recorded per-bin raw values
    q_bins: list[float] | None = None
    q_values: list[list[float]] | None = None
    extra: dict = field(default_factory=dict)

    @property
    def n(self) -> int:
        return len(self.neighbors)


@dataclass
class Rng:
    """The two RNG streams the reference consumes (module globals there,
    explicit and seeded here)."""

    py: random.Random
    np: np.random.RandomState

    @classmethod
    def seeded(cls, py_seed: int, np_seed: int) -> "Rng":
        return cls(random.Random(py_seed), np.random.RandomState(np_seed))


# ---------------------------------------------------------------- node
# strategies (ref strategy_to_time_sequence.py:204-335)

def _next_node(
    strategy: str,
    rng: Rng,
    graphs: list[GraphData],
    state: dict,
    step: int,
    gi: int,
    current: list[int],
    switch: int,
) -> int:
    g = graphs[gi]
    if strategy == "randomly":
        # ref :272-281 random.choice over all nodes of the graph
        return rng.py.choice(range(g.n))
    if strategy == "from_first_graph":
        # ref :257-270: neighbors of CURRENT node within this graph
        neigh = [x for x in g.neighbors[current[gi]]]
        if not neigh:
            return rng.py.choice(range(g.n))
        return rng.py.choice(neigh)
    if strategy == "across_graphs":
        # ref :241-255: index = (step/switch) % #graphs; neighbors of the
        # node the walk currently occupies in THAT graph, intersected with
        # this graph's nodes (positional node spaces coincide here)
        idx = int((step / switch) % len(current))
        neigh = [x for x in graphs[idx].neighbors[current[idx]]
                 if x < g.n]
        if not neigh:
            return rng.py.choice(range(g.n))
        return rng.py.choice(neigh)
    if strategy == "random_degree":
        # ref :283-305: weight per candidate = |nodes ∩ neighbors(node)| /
        # len(...) — IDENTICAL for every candidate, so the normalized
        # distribution is uniform over the neighbor set; np.random.choice
        neigh = [x for x in g.neighbors[current[gi]]]
        if not neigh:
            return rng.py.choice(range(g.n))
        w = np.full(len(neigh), 1.0 / len(neigh))
        return neigh[rng.np.choice(len(neigh), p=w)]
    if strategy == "random_with_restart":
        # ref :307-335: remembered start node per graph (np.random.choice at
        # first call), 15% jump back, else uniform over all nodes
        if "first" not in state:
            state["first"] = [int(rng.np.choice(range(gg.n)))
                              for gg in graphs]
        if rng.np.random() < 0.15:
            return state["first"][gi]
        return int(rng.np.choice(range(g.n)))
    raise ValueError(f"unknown node strategy: {strategy}")


# ---------------------------------------------------------------- value
# strategies (ref strategy_to_time_sequence.py:35-100, 175-202)

def _append_value(
    strategy: str,
    rng: Rng,
    g: GraphData,
    counters: dict,
    gi: int,
    node: int,
    seq: list[float],
) -> None:
    if strategy == "random":
        # ref :40-46 random.randint over the node's value list
        vals = g.values[node]
        idx = rng.py.randint(0, len(vals) - 1)
        seq.append(vals[idx])
    elif strategy == "round_robin":
        # ref :65-80: per-node counter advanced in HALF steps
        # (ind = count//2), reset when past the end
        key = (gi, node)
        cnt = counters.get(key, 0)
        vals = g.values[node]
        if cnt // 2 >= len(vals):
            cnt = 0
        seq.append(vals[cnt // 2])
        counters[key] = cnt + 1
    elif strategy == "random_sliding":
        # ref :48-63: shuffle the window's nodes, one random value from each
        win = list(g.win_values[node])
        rng.py.shuffle(win)
        for vals in win:
            idx = rng.py.randint(0, len(vals) - 1)
            seq.append(vals[idx])
    elif strategy == "round_robin_sliding":
        # ref :82-100: one shared half-step counter per supernode; the
        # bound checks the FIRST node's value-list length
        key = (gi, node)
        cnt = counters.get(key, 0)
        first_len = len(g.win_values[node][0])
        if cnt // 2 >= first_len:
            cnt = 0
        ind = cnt // 2
        for vals in g.win_values[node]:
            seq.append(vals[ind])
        counters[key] = cnt + 1
    elif strategy == "quantile_random":
        # ref :175-188: uniform inside the node's quantile bin; the node's
        # quantile index is its insertion order ('order' attr)
        b = g.q_bins
        seq.append(float(rng.np.uniform(b[node], b[node + 1])))
    elif strategy == "quantile":
        # ref :190-202: random.choice from the recorded raw values of the bin
        vals = g.q_values[node]
        if vals:
            seq.append(rng.py.choice(vals))
        else:
            # a bin can be EMPTY under duplicate-heavy data with the
            # epsilon-adjusted edges (the reference would IndexError here);
            # fall back to a uniform draw within the bin's edges so the
            # whole Arrow stage doesn't fail on one degenerate series
            b = g.q_bins
            seq.append(float(rng.np.uniform(b[node], b[node + 1])))
    else:
        raise ValueError(f"unknown value strategy: {strategy}")


# ---------------------------------------------------------------- walks
# (ref core/model.py:575-644 ToSequenceVisitor, 504-573 SlidingWindow,
#  648-716 OrdinalPartition, 718-773 Quantile)

def walk_plain(
    graphs: list[GraphData],
    ts_length: int,
    value_strategy: str,
    node_strategy: str,
    rng: Rng,
    skip: int = 0,
    switch: int = 1,
) -> list[list[float]]:
    """ToSequenceVisitor.to_sequence (core/model.py:619-644): each outer
    step appends one value per variable from the current node, then
    advances every walk (skip+1) times.  The sliding-window and quantile
    visitors (core/model.py:535-573, 752-773) walk with this same loop:
    their behaviour lives in their value strategies (_append_value), and
    a sliding step appends one value per node of the current window-graph,
    so that sequence can overshoot ts_length, as upstream."""
    k = len(graphs)
    seqs: list[list[float]] = [[] for _ in range(k)]
    current = [0] * k
    counters: dict = {}
    state: dict = {}
    step = 0
    while len(seqs[0]) < ts_length:
        for j in range(k):
            _append_value(value_strategy, rng, graphs[j], counters, j,
                          current[j], seqs[j])
        for _ in range(skip + 1):
            for kk in range(k):
                current[kk] = _next_node(node_strategy, rng, graphs, state,
                                         step, kk, current, switch)
        step += 1
    return seqs


def _op_append_start(
    rng: Rng, series: list[float], freqs: np.ndarray, bins: np.ndarray,
    pattern: tuple[int, ...], w: int,
) -> None:
    """ref strategy_to_time_sequence.py:160-171."""
    probs = freqs / np.sum(freqs)
    chosen_bins = rng.np.choice(len(freqs), size=w, p=probs)
    chosen_values = [float(rng.np.uniform(bins[b], bins[b + 1]))
                     for b in chosen_bins]
    chosen_values = sorted(chosen_values, reverse=True)
    for i in range(w):
        series.append(chosen_values[pattern[i]])


def _op_append(
    rng: Rng, series: list[float], freqs: np.ndarray, bins: np.ndarray,
    pattern: tuple[int, ...], w: int,
) -> None:
    """ref strategy_to_time_sequence.py:102-158 — bounds from the pattern's
    rank neighbors, probability-weighted histogram bin choice, uniform
    draw inside the chosen bin (incl. the swap and clamp quirks)."""
    tup = list(pattern)
    lower_index = higher_index = None
    if tup[-1] == 0:
        higher_index = tup.index(1)
    elif tup[-1] == len(tup) - 1:
        lower_index = tup.index(len(tup) - 2)
    else:
        higher_index = tup.index(tup[-1] + 1)
        lower_index = tup.index(tup[-1] - 1)

    if higher_index is not None:
        higher_value = series[len(series) - ((w - 1) - higher_index)]
    else:
        higher_value = bins[-1]
    if lower_index is not None:
        lower_value = series[len(series) - ((w - 1) - lower_index)]
    else:
        lower_value = bins[0]

    if higher_value < lower_value:
        lower_value, higher_value = higher_value, lower_value

    index_a = int(np.digitize(lower_value, bins)) - 1
    index_b = int(np.digitize(higher_value, bins, right=True)) - 1
    bins_in_range = bins[index_a: index_b + 2]
    freqs_in_range = freqs[index_a: index_b + 2]
    if len(freqs_in_range) == 0:
        series.append(lower_value)
        return
    probs = freqs_in_range / freqs_in_range.sum()
    chosen = int(rng.np.choice(len(freqs_in_range), p=probs))
    if chosen == len(bins_in_range) - 1:
        chosen -= 1
    series.append(float(rng.np.uniform(bins_in_range[chosen],
                                       bins_in_range[chosen + 1])))


def walk_ordinal_partition(
    graphs: list[GraphData],
    ts_length: int,
    node_strategy: str,
    rng: Rng,
    freqs: list[np.ndarray],
    bins: list[np.ndarray],
    w: int,
    tau: int,
    skip: int = 0,
    switch: int = 1,
) -> list[list[float]]:
    """ToSequenceVisitorOrdinalPartition (core/model.py:673-716): tau
    interleaved sub-series per variable; sub-series start with
    append_start, continue with append; node advances between sub-series
    and (skip+1) times per outer step; final sequence concatenates the
    sub-series (NOT interleaved — upstream concatenates, :707-711)."""
    k = len(graphs)
    short: list[list[list[float]]] = [
        [[] for _ in range(tau)] for _ in range(k)]
    current = [0] * k
    state: dict = {}
    one_len = ts_length / tau
    while len(short[0][0]) < one_len:
        for kk in range(k):
            g = graphs[kk]
            for i in range(tau):
                pat = g.patterns[current[kk]]
                if len(short[kk][i]) == 0:
                    _op_append_start(rng, short[kk][i], freqs[kk], bins[kk],
                                     pat, w)
                else:
                    _op_append(rng, short[kk][i], freqs[kk], bins[kk], pat, w)
                if i < tau - 1:
                    current[kk] = _next_node(node_strategy, rng, graphs,
                                             state, i, kk, current, switch)
        for _ in range(skip + 1):
            for kk in range(k):
                current[kk] = _next_node(node_strategy, rng, graphs, state,
                                         tau - 1, kk, current, switch)
    seqs: list[list[float]] = [[] for _ in range(k)]
    for kk in range(k):
        for j in range(tau):
            seqs[kk].extend(short[kk][j])
    return seqs
