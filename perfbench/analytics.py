"""analytics: registry entries over the fixed sf0.1 tables.

One operation calls one registry entry ``(spark, data_dir) -> DataFrame``
(construction: catalog loads, analysis and any jobs the entry runs while
building its plan) and collects the result to pandas. A pass runs the five
short entries twice and the three long ones once; the seed shuffles
their order. The entries are grouped by
the layer they load, so a traced run shows where a change lands:
read-only star-join, aggregate, window and event queries (catalog,
Catalyst/AQE planning, shuffle), versioned-table lifecycles (snapshots,
maintenance) and the LLM-data operators (text, dedup_fuzzy, graph,
similarity).

Every collected result is compared with the entry's DuckDB oracle over
the same files, canonicalized as in ``tests/oracle_harness.py``. The
oracles of two corpus entries take 30-270 s on 4 cores, so their
canonical digest is stored in ``oracle_answers.json``, keyed by the
oracle SQL and the input bytes (``store_oracles.py`` refreshes it). The
corpus results are also re-derived in plain Python/numpy on every run:
each near-duplicate pair's similarity against the operator's threshold,
the clusters by union-find, and the brute-force top-k.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re

import numpy as np
import pyarrow.parquet as pq

from harness import Span, dir_bytes, median

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
IVF_DIR = os.path.join(os.path.dirname(HERE), ".ivf_index")
ANSWERS = os.path.join(HERE, "oracle_answers.json")

# entry -> group. "read" entries are split into construction and collect
# (queries.*), "dml" lifecycles into fixture staging and the rest
# (snapshots.*), corpus entries are grouped by the operator module they
# exercise.
ENTRIES = {
    "q4_star_join_revenue": "read",
    "p9_time_travel": "dml",
    "p6_compaction_roundtrip": "dml",
    "t3_exact_dedup": "text",
    "t7_minhash_lsh_neardup": "dedup_fuzzy",
    "t12_neardup_clusters": "graph",
    "sim1_cosine_topk_bruteforce": "similarity",
    "sim4_cosine_topk_ivf": "similarity",
}
CORPUS_MODULES = ("text", "dedup_fuzzy", "graph", "similarity")
# left out of the warm-up and run once per pass (see Analytics.warm_up)
SLOW = ("p6_compaction_roundtrip", "p9_time_travel", "t12_neardup_clusters")
SHORT = tuple(e for e in ENTRIES if e not in SLOW)
# oracles too slow to run on every run: compared by stored digest
STORED = ("t7_minhash_lsh_neardup", "t12_neardup_clusters")

T7_THRESHOLD, T7_SHINGLE = 0.3, 3
SIM1_K = 10


def canonical(pdf) -> tuple[list[str], list[tuple[str, ...]]]:
    from tests.oracle_harness import canonicalize

    return canonicalize(pdf)


def digest(canon) -> str:
    return hashlib.sha256(json.dumps(canon).encode()).hexdigest()


def data_digest() -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(DATA_DIR)):
        h.update(name.encode())
        with open(os.path.join(DATA_DIR, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def answer_key(sql: str, data: str) -> str:
    return hashlib.sha256((sql + "\0" + data).encode()).hexdigest()


class OracleAnswers:
    """Expected canonical results: live DuckDB for the fast oracles,
    stored digests for the slow ones."""

    def __init__(self) -> None:
        from end_to_end_data_engineering_pipeline_spark.queries.registry import (
            all_oracles,
        )

        self.sql = all_oracles()
        self.data = data_digest()
        with open(ANSWERS) as f:
            self.stored = json.load(f)
        self._live: dict[str, tuple] = {}
        self._con = None

    def check(self, name: str, canon) -> list[str]:
        if name in STORED:
            want = self.stored.get(answer_key(self.sql[name], self.data))
            if want is None:
                return [f"{name}: no stored oracle answer for this SQL and data; run perfbench/store_oracles.py"]
            got = {"rows": len(canon[1]), "digest": digest(canon)}
            want = {k: want[k] for k in got}
            return [] if got == want else [f"{name}: result {got} != stored oracle {want}"]
        if name not in self._live:
            if self._con is None:
                from tests.oracle_harness import duckdb_con

                self._con = duckdb_con(DATA_DIR)
            self._live[name] = canonical(self._con.execute(self.sql[name]).fetchdf())
        want = self._live[name]
        if canon == want:
            return []
        if canon[0] != want[0]:
            return [f"{name}: columns {canon[0]} != oracle {want[0]}"]
        bad = next(
            (i for i, (a, b) in enumerate(zip(canon[1], want[1])) if a != b),
            min(len(canon[1]), len(want[1])),
        )
        return [f"{name}: {len(canon[1])} rows vs oracle {len(want[1])}; first difference at sorted row {bad}"]


# --- checks made apart from Spark, on every corpus run -------------------

_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _tokens(text: str) -> list[str]:
    # normalize_text (lower, trim spaces, collapse whitespace), then
    # whitespace_tokens (trim spaces, split)
    return _WS.sub(" ", text.lower().strip(" ")).strip(" ").split(" ")


def _shingles(toks: list[str], k: int) -> set[str]:
    n = max(len(toks) - (k - 1), 1)
    return {" ".join(toks[i : i + k]) for i in range(n)}


class CorpusReference:
    """Per-document facts and brute-force search computed with numpy."""

    def __init__(self) -> None:
        docs = pq.read_table(os.path.join(DATA_DIR, "documents.parquet"), columns=["doc_id", "text"])
        self.tokens = {
            i: _tokens(t) for i, t in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist())
        }
        emb = pq.read_table(os.path.join(DATA_DIR, "embeddings.parquet"), columns=["vec_id", "embedding"])
        self.vec_ids = np.array(emb["vec_id"].to_pylist())
        self.vecs = np.array(emb["embedding"].to_pylist(), dtype=np.float64)

    def t7_pairs(self, pdf) -> list[str]:
        bad = 0
        for a, b, jac in zip(pdf["id_a"], pdf["id_b"], pdf["jaccard"]):
            sa = _shingles(self.tokens[a], T7_SHINGLE)
            sb = _shingles(self.tokens[b], T7_SHINGLE)
            exact = len(sa & sb) / len(sa | sb)
            if not (a < b and exact >= T7_THRESHOLD and abs(exact - jac) <= 1e-6):
                bad += 1
        return [f"t7: {bad} pairs fail the recomputed Jaccard >= {T7_THRESHOLD}"] if bad else []

    def t12_clusters(self, pdf, t7_pdf) -> list[str]:
        parent: dict[int, int] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(t7_pdf["id_a"], t7_pdf["id_b"]):
            ra, rb = find(int(a)), find(int(b))
            parent[max(ra, rb)] = min(ra, rb)
        want = {n: find(n) for n in list(parent)}
        got = dict(zip((int(x) for x in pdf["node"]), (int(x) for x in pdf["cluster_id"])))
        return [] if got == want else ["t12: clusters differ from union-find over the t7 pairs"]

    def sim1_topk(self, pdf) -> list[str]:
        from end_to_end_data_engineering_pipeline_spark.operators.similarity import SCALE
        from end_to_end_data_engineering_pipeline_spark.queries.similarity import QUERY_IDS

        sv = np.rint(self.vecs * SCALE).astype(np.int64)
        norms = np.sqrt((sv * sv).sum(axis=1).astype(np.float64))
        want = []
        for q in QUERY_IDS:
            qi = int(np.nonzero(self.vec_ids == q)[0][0])
            cos = np.round((sv @ sv[qi]).astype(np.float64) / (norms[qi] * norms), 6)
            order = sorted((i for i in range(len(sv)) if i != qi), key=lambda i: (-cos[i], self.vec_ids[i]))
            want += [(q, int(self.vec_ids[i]), r + 1) for r, i in enumerate(order[:SIM1_K])]
        got = sorted(zip(*(pdf[c].astype(int) for c in ("query_id", "cand_id", "rk"))))
        return [] if got == sorted(want) else ["sim1: top-k differs from numpy brute force"]


def ivf_index_dirs() -> list[str]:
    """The IVF quantizers the program persisted under .ivf_index/ (at
    the root of the checkout) for the benchmark's embeddings."""
    out = []
    for entry in os.listdir(IVF_DIR) if os.path.isdir(IVF_DIR) else ():
        path = os.path.join(IVF_DIR, entry)
        meta = pq.read_table(path, columns=["meta"])["meta"].to_pylist()
        if any(DATA_DIR in (m or "") for m in meta):
            out.append(path)
    return out


class Analytics:
    """One pass = the short entries twice and the long ones once, in a
    seeded order."""

    def __init__(self, ctx) -> None:
        from end_to_end_data_engineering_pipeline_spark.queries.registry import all_queries

        self.ctx = ctx
        queries = all_queries()
        self.fns = {e: queries[e] for e in ENTRIES}
        self.rng = random.Random(ctx.seed)
        self.results: dict[str, list] = {e: [] for e in self.fns}
        # traced run: op_id -> (entry, seconds spent staging fixtures)
        self.phases: dict[int, tuple[str, float]] = {}

    def _call(self, entry: str):
        return self.fns[entry](self.ctx.spark, DATA_DIR).toPandas()

    def warm_up(self, timer) -> None:
        # One pass over the short entries, in a fixed order, pays the
        # process's first-use costs (codegen, Python workers) and trains
        # and persists the IVF index that sim4 then reuses. The three
        # longest entries are left out: their first run, after the others
        # have warmed the engine, costs under a second more than later
        # ones, and warming them would cost more set-up time than the run
        # can afford.
        self._run(timer, list(SHORT))

    def run_pass(self, timer) -> None:
        # The short entries run twice per pass. Single operations vary by
        # 20-50 % from run to run; with eight entries once each the median
        # fell between two of them and jumped with whichever was slow.
        # Thirteen operations put it inside a cluster of similar ones.
        order = list(SHORT) * 2 + list(SLOW)
        self.rng.shuffle(order)
        self._run(timer, order)

    def _run(self, timer, order: list[str]) -> None:
        for entry in order:
            pdf = timer.op(entry, self._call, entry)
            if pdf is not None:
                self.results[entry].append(pdf)

    def check(self) -> list[str]:
        answers = OracleAnswers()
        ref = CorpusReference()
        t7 = self.results["t7_minhash_lsh_neardup"]
        derived = {
            "t7_minhash_lsh_neardup": ref.t7_pairs,
            "sim1_cosine_topk_bruteforce": ref.sim1_topk,
            "t12_neardup_clusters": lambda pdf: ref.t12_clusters(pdf, t7[-1]) if t7 else [],
        }
        problems = []
        for entry, outs in self.results.items():
            seen: dict[str, list[str]] = {}  # identical outputs are checked once
            for pdf in outs:
                canon = canonical(pdf)
                d = digest(canon)
                if d not in seen:
                    seen[d] = answers.check(entry, canon)
                    if entry in derived:
                        seen[d] += derived[entry](pdf)
                problems += seen[d]
        return problems

    def end_to_end(self) -> dict[str, float]:
        # The only storage that outlives an entry here is the IVF index
        # sim4 persists: its bytes per embedding row indexed.
        rows = pq.ParquetFile(os.path.join(DATA_DIR, "embeddings.parquet")).metadata.num_rows
        return {"stored_bytes_per_row": sum(map(dir_bytes, ivf_index_dirs())) / rows}

    # --- traced run -------------------------------------------------
    def install_trace(self, tracer) -> None:
        from end_to_end_data_engineering_pipeline_spark.queries.benchmeta import (
            measure_fixtures,
        )

        def call(entry):
            fixtures: list[float] = []
            with measure_fixtures(fixtures):
                df = tracer.wrap("queries.construct", self.fns[entry])(self.ctx.spark, DATA_DIR)
            pdf = tracer.wrap("queries.collect", df.toPandas)()
            self.phases[tracer.op_id] = (entry, sum(fixtures))
            return pdf

        self._call = call

    def layer_metrics(self, tracer, ops: list[Span]) -> dict[str, float]:
        def group(g):
            return [s for s in ops if ENTRIES[self.phases[s.op_id][0]] == g]

        def phase(name, op_spans):
            ids = {s.op_id for s in op_spans}
            return median(s.end - s.start for s in tracer.spans if s.name == name and s.op_id in ids)

        read, dml = group("read"), group("dml")
        out = {
            "queries.plan_s": phase("queries.construct", read),
            "queries.exec_s": phase("queries.collect", read),
            "snapshots.fixture_s": median(self.phases[s.op_id][1] for s in dml),
            "snapshots.op_s": median(s.end - s.start - self.phases[s.op_id][1] for s in dml),
        }
        for module in CORPUS_MODULES:
            mine = group(module)
            out[f"{module}.op_s"] = median(s.end - s.start for s in mine)
            out[f"{module}.shuffle_mb"] = median(s.counters.shuffle_bytes / 2**20 for s in mine)
        return out
