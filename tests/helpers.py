"""Helpers shared by the operator-family and property test files.

Most property tests pit an operator's DuckDB oracle SQL against a
from-scratch Python reference on hypothesis inputs. The Spark side is
pinned to the same oracle by tests/test_relational_oracle.py and
tools/preflight.py, so a pass checks both engines against a third
implementation. References use engine arithmetic (floor-half-up grids,
integer-exact micro units, md5-prefix hashing), never CPython round().
A new operator's property tests run max_examples=200 until its driver
row is on disk, then 30; a falsifying input found on the way stays as
an @example pin (SURVEY.md §5.2 item 7).

Here: the registry lookup and test-data directory of the Spark-side
pins, Python mirrors of the engine's md5 hash, tokenizer and rounding,
a DuckDB connection over a documents frame, and a hypothesis strategy
for short word texts.
"""

from __future__ import annotations

import hashlib
import math
import re

import duckdb
import pandas as pd
from hypothesis import strategies as st


SF = "/root/testdata/sf0.001"


def _q(name):
    import __spark_entry__ as e

    return e.queries()[name]


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _round_half_away(x: float, p: int) -> float:
    """Round half away from zero, matching Spark/DuckDB round() — NOT
    CPython round(), whose banker's rounding disagrees on representable
    ties (the round-10 mash 1/32 failure)."""
    m = 10**p
    return math.copysign(math.floor(abs(x) * m + 0.5), x) / m


def _docs_con(texts, sources=None):
    con = duckdb.connect()
    df = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    if sources is not None:
        df["source"] = sources
    con.register("documents", df)
    return con


_WORDS = st.sampled_from(
    ["the", "a", "fast", "key", "sort", "merge", "spark", "x1"]
)


_TEXTS = st.lists(_WORDS, min_size=0, max_size=30).map(" ".join)
