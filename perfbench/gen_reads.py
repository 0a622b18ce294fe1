"""Seeded GraphLab-format read file with a known best path.

Writes the reference's whitespace-delimited input
(``ReadID Length Content MatchPosition MatchScore successors...``):
chains of reads cut from random genomes, each read stepping past the
previous one with a mixed overlap (merge case B), a one-base overlap
(case C) or a gap (case D). Every chain read also gets 0-2 decoy edges
to dead-end reads whose scores are all below every chain score, so the
argmax successor of each chain read is the next read of its chain and
the path from chain 0's head is exactly chain 0.

The expected sequence is the pure-Python fold in
``tests/assembly_oracle.py`` over that chain, never a Spark result.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.assembly_oracle import Interval, fold_chain  # noqa: E402

BASES = np.frombuffer(b"ACGT", dtype=np.uint8)
READ_LEN = (100, 151)  # half-open range of read lengths
OVERLAP = (10, 61)  # case B: next read starts this many bases before the end
GAP = (1, 21)  # case D: next read starts this many bases after the end
STEP_P = (0.6, 0.2, 0.2)  # P(B), P(C), P(D)
DECOY_SHARE = 0.2  # share of all reads that are dead-end decoys


@dataclass(frozen=True)
class ReadSet:
    text: str
    source: int
    destination: int
    path: list[int]  # chain 0's read ids, in path order
    n_reads: int
    n_edges: int
    expected: Interval  # fold of chain 0


def _chain(rng: np.random.Generator, n: int, base: int) -> list[Interval]:
    lengths = rng.integers(*READ_LEN, n)
    kinds = rng.choice(3, n, p=STEP_P)
    offsets = [0]
    for i in range(1, n):
        end = offsets[-1] + int(lengths[i - 1]) - 1
        if kinds[i] == 0:
            offsets.append(end - int(rng.integers(*OVERLAP)))
        elif kinds[i] == 1:
            offsets.append(end)
        else:
            offsets.append(end + int(rng.integers(*GAP)))
    genome = BASES[rng.integers(0, 4, offsets[-1] + int(lengths[-1]))].tobytes().decode()
    return [
        Interval(base + o, int(ln), genome[o : o + int(ln)])
        for o, ln in zip(offsets, lengths)
    ]


def build_reads(seed: int, n_reads: int, chain_len: int) -> ReadSet:
    """Same arguments, same bytes; chain 0 is the source's path."""
    rng = np.random.default_rng(seed)
    n_decoys = int(n_reads * DECOY_SHARE)
    n_chains = max(1, (n_reads - n_decoys) // chain_len)
    n_decoys = n_reads - n_chains * chain_len
    ids = rng.permutation(n_reads) + 1  # 0 is the leaf sentinel
    chain_ids = ids[: n_chains * chain_len].reshape(n_chains, chain_len)
    decoy_ids = ids[n_chains * chain_len :]

    lines: list[str] = []
    n_edges = 0
    chain0: list[Interval] = []
    for c in range(n_chains):
        reads = _chain(rng, chain_len, int(rng.integers(0, 1_000_000)))
        scores = rng.uniform(0.9, 1.0, chain_len)
        n_decoy_edges = rng.integers(0, 3, chain_len)
        for i, r in enumerate(reads):
            succ: list[int] = []
            if i + 1 < chain_len:  # chain tails (incl. the destination) are leaves
                succ.append(int(chain_ids[c, i + 1]))
                succ.extend(int(d) for d in rng.choice(decoy_ids, n_decoy_edges[i]))
            n_edges += len(succ)
            lines.append(
                f"{chain_ids[c, i]}\t{r.length}\t{r.content}\t{r.offset}\t"
                f"{scores[i]:.6f}" + "".join(f"\t{s}" for s in succ)
            )
        if c == 0:
            chain0 = reads
    for d in decoy_ids:
        ln = int(rng.integers(*READ_LEN))
        content = BASES[rng.integers(0, 4, ln)].tobytes().decode()
        lines.append(
            f"{d}\t{ln}\t{content}\t{int(rng.integers(0, 1_000_000))}\t"
            f"{rng.uniform(0.0, 0.5):.6f}"
        )
    order = rng.permutation(len(lines))
    return ReadSet(
        text="\n".join(lines[i] for i in order) + "\n",
        source=int(chain_ids[0, 0]),
        destination=int(chain_ids[0, -1]),
        path=[int(x) for x in chain_ids[0]],
        n_reads=n_reads,
        n_edges=n_edges,
        expected=fold_chain(chain0),
    )
