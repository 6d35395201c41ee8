"""Seeded generator for `g128.gr`, the 128-vertex companion-algorithm
fixture (FIXTURES.md §3 `g128_partitioned` shape): 128 vertices, 374 arcs,
13 SCCs — one of 113 vertices, one 3-cycle, one 2-cycle and 10 singletons.

    python tests/data/gen_g128.py      # rewrites tests/data/g128.gr

The giant SCC is a directed Hamiltonian cycle plus chords (a chord inside
an SCC never changes the partition); about half the chords are short
hops along the cycle, so the undirected view has triangles and a
non-trivial 3-core and 4-truss. Arcs between components only run from a
lower to a higher random component rank, so they never merge SCCs. Two
singletons keep no arcs at all (isolated vertices, as GTgraph allows).
"""

from __future__ import annotations

import os
import random

V, E, SEED = 128, 374, 128
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "g128.gr")


def generate(seed: int = SEED) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    ids = list(range(1, V + 1))
    rng.shuffle(ids)
    giant, c3, c2, singles = ids[:113], ids[113:116], ids[116:118], ids[118:]
    arcs: list[tuple[int, int]] = []
    seen: set[tuple[int, int]] = set()

    def add(u: int, v: int) -> bool:
        if u == v or (u, v) in seen:
            return False
        seen.add((u, v))
        arcs.append((u, v))
        return True

    for comp in (giant, c3, c2):
        for i, u in enumerate(comp):
            add(u, comp[(i + 1) % len(comp)])

    # inter-component arcs: low rank -> high rank only (acyclic condensation)
    comps = [giant, c3, c2] + [[s] for s in singles[:-2]]
    rank = {id(c): r for r, c in enumerate(rng.sample(comps, len(comps)))}
    n_dag = 0
    while n_dag < 30:
        a, b = rng.sample(comps, 2)
        if rank[id(a)] > rank[id(b)]:
            a, b = b, a
        n_dag += add(rng.choice(a), rng.choice(b))

    n = len(giant)
    while len(arcs) < E:
        i = rng.randrange(n)
        j = (i + rng.choice((-3, -2, 2, 3))) % n if rng.random() < 0.5 else rng.randrange(n)
        add(giant[i], giant[j])
    return arcs


def main() -> None:
    arcs = generate()
    with open(OUT, "w") as f:
        f.write(f"c seeded by tests/data/gen_g128.py (seed {SEED})\n")
        f.write(f"p sp {V} {len(arcs)}\n")
        for u, v in arcs:
            f.write(f"a {u} {v} 1\n")


if __name__ == "__main__":
    main()
