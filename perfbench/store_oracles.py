#!/usr/bin/env python3
"""Compute and store the canonical digests of the slow corpus oracles.

    python3 perfbench/store_oracles.py

Runs each DuckDB oracle named in ``analytics.STORED`` over the
benchmark's data (t12's recursive closure takes minutes on 4 cores) and
writes ``perfbench/oracle_answers.json``, keyed by the oracle SQL text
and the bytes of the input tables, so that a change to either leaves
the benchmark without an answer instead of with a stale one.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import analytics  # noqa: E402
from end_to_end_data_engineering_pipeline_spark.queries.registry import all_oracles  # noqa: E402
from tests.oracle_harness import duckdb_con  # noqa: E402


def main() -> None:
    sql = all_oracles()
    data = analytics.data_digest()
    con = duckdb_con(analytics.DATA_DIR)
    answers = {}
    for name in analytics.STORED:
        t0 = time.perf_counter()
        canon = analytics.canonical(con.execute(sql[name]).fetchdf())
        answers[analytics.answer_key(sql[name], data)] = {
            "entry": name,
            "rows": len(canon[1]),
            "digest": analytics.digest(canon),
        }
        print(f"{name}: {len(canon[1])} rows in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    with open(analytics.ANSWERS, "w") as f:
        json.dump(answers, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
