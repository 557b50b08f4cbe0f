#!/usr/bin/env python3
"""Self-test of the benchmark's output checkers.

    python3 perfbench/selftest.py

Produces one genuine output of each checked kind with the program, shows
that every checker accepts it, then corrupts it in small ways (a row
dropped, a value changed, two rows' values swapped) and shows that the
checker rejects each corrupted copy. Exits non-zero if a genuine output
is rejected or a corrupted one is accepted. Takes about four minutes.
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa

import run  # noqa: F401  (puts the program and perfbench on sys.path)
import analytics
import weather


def _swap_values(pdf, col=None):
    """Swap one column's values (by default the last column with two
    distinct values) between the first two rows that differ."""
    out = pdf.copy()
    col = col or next(c for c in reversed(out.columns) if out[c].nunique() > 1)
    vals = list(out[col])
    j = next(j for j in range(1, len(vals)) if vals[j] != vals[0])
    vals[0], vals[j] = vals[j], vals[0]
    out[col] = vals
    return out


def _change(pdf, col, delta):
    out = pdf.copy()
    out.loc[out.index[0], col] = out[col].iloc[0] + delta
    return out


def main() -> int:
    from end_to_end_data_engineering_pipeline_spark.queries.registry import all_queries
    from end_to_end_data_engineering_pipeline_spark.session import get_spark

    failures: list[str] = []

    def expect(label: str, problems: list[str], rejected: bool) -> None:
        ok = bool(problems) == rejected
        verdict = "rejected" if problems else "accepted"
        print(f"{'ok  ' if ok else 'FAIL'} {label}: {verdict}", *problems[:1], file=sys.stderr)
        if not ok:
            failures.append(label)

    workdir = os.path.join(run.HERE, "out", f"selftest-{os.getpid()}")
    run.confine_to(workdir)
    spark = get_spark()
    try:
        # --- weather_etl: reference model of the warehouse -------------
        wl = weather.WeatherEtl(run.Ctx(spark, 7, workdir))
        wl.run_pass(run.Timer(None, warm=False))
        tables, batch_ids = wl.last
        inp = wl.inputs
        expect("weather genuine", weather.check_warehouse(tables, inp, batch_ids), False)
        silver = tables["silver"]
        temp = silver["temperature_c"].to_pylist()
        temp[0] += 0.1
        corrupt = {
            "silver row dropped": {"silver": silver.slice(1)},
            "silver value changed": {
                "silver": silver.set_column(
                    silver.schema.get_field_index("temperature_c"), "temperature_c", pa.array(temp)
                )
            },
            "fact row dropped": {"fact_rows": tables["fact_rows"] - 1},
            "dim_location row dropped": {"dim_location": tables["dim_location"].slice(1)},
            "dim_date row dropped": {"dim_date": tables["dim_date"].slice(1)},
            "batch log count changed": {
                "batch_log": tables["batch_log"].set_column(
                    tables["batch_log"].schema.get_field_index("http_failure_count"),
                    "http_failure_count",
                    pa.array([v + 1 for v in tables["batch_log"]["http_failure_count"].to_pylist()], pa.int32()),
                )
            },
        }
        for label, change in corrupt.items():
            expect(f"weather {label}", weather.check_warehouse({**tables, **change}, inp, batch_ids), True)

        # --- warehouse and corpus: oracle comparison and re-derivations --
        queries = all_queries()
        out = {
            e: queries[e](spark, analytics.DATA_DIR).toPandas()
            for e in (
                "q4_star_join_revenue",
                "p9_time_travel",
                "t7_minhash_lsh_neardup",
                "t12_neardup_clusters",
                "sim1_cosine_topk_bruteforce",
            )
        }
        answers = analytics.OracleAnswers()
        ref = analytics.CorpusReference()
        for e, pdf in out.items():
            expect(f"{e} genuine", answers.check(e, analytics.canonical(pdf)), False)
        q4, p9, t7, t12, sim1 = out.values()
        for e, pdf in (
            ("q4_star_join_revenue", _swap_values(q4)),
            ("q4_star_join_revenue", q4.iloc[1:]),
            ("p9_time_travel", _swap_values(p9)),
            ("t7_minhash_lsh_neardup", t7.iloc[1:]),
            ("t12_neardup_clusters", _change(t12, "cluster_id", 1)),
            ("sim1_cosine_topk_bruteforce", _swap_values(sim1, "cand_id")),
        ):
            expect(f"{e} oracle, corrupted", answers.check(e, analytics.canonical(pdf)), True)

        expect("t7 re-derived, genuine", ref.t7_pairs(t7), False)
        expect("t7 re-derived, jaccard changed", ref.t7_pairs(_change(t7, "jaccard", 0.01)), True)
        far = t7.copy()
        far.loc[far.index[0], "id_b"] = next(d for d in sorted(ref.tokens) if d > far["id_a"].iloc[0] and d not in set(t7["id_b"]))
        expect("t7 re-derived, dissimilar pair", ref.t7_pairs(far), True)
        expect("t12 re-derived, genuine", ref.t12_clusters(t12, t7), False)
        expect("t12 re-derived, cluster changed", ref.t12_clusters(_change(t12, "cluster_id", 1), t7), True)
        expect("sim1 re-derived, genuine", ref.sim1_topk(sim1), False)
        expect("sim1 re-derived, candidates swapped", ref.sim1_topk(_swap_values(sim1, "cand_id")), True)
    finally:
        run.stop_spark(spark)
        os.chdir(run.ROOT)
        shutil.rmtree(workdir, ignore_errors=True)
    print(f"{len(failures)} checker self-test failures", *failures, file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
