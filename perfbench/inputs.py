"""Build one run's inputs and expected outputs, and check query results.

Runs in its own process so that neither the generators nor DuckDB count
toward the measured process's memory.

``python3 perfbench/inputs.py build WORKLOAD SEED OUT`` writes, under
``OUT``:

* query workloads: ``lineitem.parquet`` and ``documents.parquet``, and
  ``expected.json`` with one digest per query of its DuckDB oracle
  result, normalized by ``tests/oracle_harness.py`` exactly as the
  project's oracle tests do;
* ``assembly``: ``reads.txt`` and ``expected.json`` with the source,
  destination, chain-0 path and the pure-Python fold of it.

``python3 perfbench/inputs.py check RESULT...`` reads pickled
``(columns, rows)`` query results and prints a JSON list of their
digests, normalized the same way.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from workloads import (  # noqa: E402
    CHAIN_LEN, DOCUMENTS, ORDERS, PARTS, QUERY_WORKLOADS, READS)


def rows_digest(cols: list[str], rows: list[tuple]) -> str:
    """Digest of a result as the oracle harness normalizes it."""
    from tests.oracle_harness import _norm_rows

    body = json.dumps([sorted(cols), _norm_rows(cols, rows)])
    return hashlib.sha256(body.encode()).hexdigest()


def sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def build_queries(workload: str, seed: int, out: str) -> dict:
    import duckdb

    from bigdatagenomic_spark.queries import oracle_sql
    from gen_tables import build_tables, cc_rounds, write_tables

    tables = build_tables(seed, ORDERS, PARTS, DOCUMENTS)
    written = write_tables(out, tables)
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{out}/{t}.parquet')")
    oracles = oracle_sql()
    expected = {}
    for name in QUERY_WORKLOADS[workload]:
        res = con.sql(oracles[name])
        rows = res.fetchall()
        expected[name] = {"rows": len(rows), "digest": rows_digest(res.columns, rows)}
    con.close()
    return {"input_bytes": sum(written.values()), "tables": written,
            "lineitem_rows": tables["lineitem"].num_rows,
            "documents": tables["documents"].num_rows,
            "graph_cc_rounds": cc_rounds(tables["lineitem"]), "queries": expected}


def build_assembly(seed: int, out: str) -> dict:
    from gen_reads import build_reads

    rs = build_reads(seed, READS, CHAIN_LEN)
    path = os.path.join(out, "reads.txt")
    with open(path, "w") as fh:
        fh.write(rs.text)
    return {
        "input_bytes": os.path.getsize(path),
        "reads": rs.n_reads,
        "edges": rs.n_edges,
        "source": rs.source,
        "destination": rs.destination,
        "path": rs.path,
        "offset": rs.expected.offset,
        "length": rs.expected.length,
        "content_sha256": sha(rs.expected.content),
    }


def build(workload: str, seed: int, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    if workload in QUERY_WORKLOADS:
        meta = build_queries(workload, seed, out)
    else:
        meta = build_assembly(seed, out)
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def check(paths: list[str]) -> list[str]:
    digests = []
    for path in paths:
        with open(path, "rb") as fh:
            cols, rows = pickle.load(fh)
        digests.append(rows_digest(cols, rows))
    return digests


if __name__ == "__main__":
    if sys.argv[1] == "build":
        build(sys.argv[2], int(sys.argv[3]), sys.argv[4])
    else:
        print(json.dumps(check(sys.argv[2:])))
