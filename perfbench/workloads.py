"""Workload definitions shared by the input builder and the runner.

``iterative`` runs registry queries over seeded tables; ``assembly``
runs the paper's read-file -> assemble -> write pipeline over a seeded
read file. See README.md for why each was chosen. Plain constants only:
the runner imports this module into the measured process.
"""

from __future__ import annotations

# Registry queries whose builders loop eagerly, so much of their wall
# time is driver work between small jobs: label propagation with a
# checkpoint and a convergence job per round, and the curriculum
# schedule's two-phase (range-partitioned) running token count.
ITERATIVE = [
    "q_graph_cc",
    "q_x_curriculum",
]

QUERY_WORKLOADS = {"iterative": ITERATIVE}
WORKLOADS = [*QUERY_WORKLOADS, "assembly"]

# The row counts of the project's sf0.001 test tables: 1.5k orders
# (6k lineitems), 200 parts, 500 documents. On them q_graph_cc's slice
# takes 6 label-propagation rounds (gen_tables.GRAPH_SEED); the sf0.01
# tables (2k parts) take 17, at a cost that grows exponentially with the
# round count (see README.md, "Known defects").
ORDERS = 1_500
PARTS = 200
DOCUMENTS = 500

READS = 8_000
CHAIN_LEN = 2_000
