"""Driver-session twin: fixture-drift insurance (round-4 verdict #3).

The driver runs ``__spark_entry__.queries()`` under its OWN
SparkSession — bare default conf, not ``session.get_spark`` — and the
fixtures under /root/testdata are regenerated between rounds (round 4:
events.ts flipped from TIMESTAMP(NANOS) to timestamp[us] and the
catalog loader's hardcoded nanos conversion took down 6 driver rows,
31 tests, and the bench). This test converts that failure mode from
"red driver rows discovered post-round" to "one red pytest in-round":

- (a) every table in ``catalog.TABLES`` loads under a bare
  default-conf session with the expected key dtypes, and
- (b) the full 50-entry driver gate prefix executes under that same
  bare session (count only — value parity is test_oracle_parity's
  job; this asserts session-independence).

Runs in a subprocess because a JVM-wide SparkSession already built by
conftest would mask conf-dependence in-process.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import json, sys

sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

# bare session: ONLY master + quiet UI — no engine confs. Anything the
# engine needs at read time must be set inside catalog.load itself.
spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "8g")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from end_to_end_data_engineering_pipeline_spark.catalog import TABLES, load

sf_dir = "/root/testdata/sf0.001"
failures = {{}}

EXPECT_DTYPES = {{
    "events": {{"ts": ("timestamp", "timestamp_ntz")}},
    "orders": {{"o_orderdate": ("date", "timestamp", "timestamp_ntz")}},
    "lineitem": {{"l_shipdate": ("date", "timestamp", "timestamp_ntz")}},
    "documents": {{"doc_id": ("bigint",), "text": ("string",)}},
    "embeddings": {{"embedding": ("array<float>", "array<double>")}},
}}

for name in TABLES:
    try:
        df = load(spark, sf_dir, name)
        dt = dict(df.dtypes)
        for col, allowed in EXPECT_DTYPES.get(name, {{}}).items():
            if dt.get(col) not in allowed:
                raise AssertionError(
                    f"{{name}}.{{col}} dtype {{dt.get(col)!r}} not in {{allowed}}"
                )
        df.limit(1).collect()
    except Exception as e:  # noqa: BLE001
        failures[f"load:{{name}}"] = repr(e)[:400]

import __spark_entry__ as entry_mod

qs = entry_mod.queries()
prefix = list(qs)[:50]
for qname in prefix:
    try:
        n = qs[qname](spark, sf_dir).count()
        assert n >= 0
    except Exception as e:  # noqa: BLE001
        failures[f"query:{{qname}}"] = repr(e)[:400]

print("RESULT_JSON=" + json.dumps(failures))
"""


def test_bare_driver_session_loads_and_gate_prefix():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=REPO)],
        capture_output=True,
        text=True,
        timeout=1200,
        cwd=REPO,
    )
    marker = "RESULT_JSON="
    line = next(
        (l for l in proc.stdout.splitlines() if l.startswith(marker)), None
    )
    assert line is not None, (
        f"subprocess died rc={proc.returncode}\n"
        f"stdout tail: {proc.stdout[-2000:]}\nstderr tail: {proc.stderr[-2000:]}"
    )
    failures = json.loads(line[len(marker):])
    assert failures == {}, json.dumps(failures, indent=2)


def test_gate_prefix_is_exactly_fifty_valid_names():
    """The driver's correctness gate records exactly the FIRST 50
    entries of queries() (round-1 evidence, queries/registry.py).
    The curated prefix must therefore be exactly 50 names, every one
    registered, unique, and oracled — a silent typo here would waste
    a gate slot on a name the driver can't resolve."""
    from end_to_end_data_engineering_pipeline_spark.queries import registry

    pr = registry._PRIORITY
    qs = registry.all_queries()
    os_ = registry.all_oracles()
    assert len(pr) == 50
    assert len(set(pr)) == 50
    missing = [n for n in pr if n not in qs]
    assert missing == []
    unoracled = [n for n in pr if n not in os_]
    assert unoracled == []
    # and the curation actually works: the first 50 of queries() ARE
    # the prefix, in order
    assert list(qs)[:50] == pr


def test_rotation_policy_maximizes_min_freshness():
    """The 50-slot gate prefix is the only driver-validation channel
    (registry.py rotation policy): a never-driver-validated oracled
    query must never wait outside the prefix while a slot is spent on
    an already-validated one. Either every never-validated oracled
    query is in the prefix, or the prefix is made entirely of
    never-validated queries (more candidates than slots, as in r7)."""
    from end_to_end_data_engineering_pipeline_spark.queries import registry

    pr = set(registry._PRIORITY)
    # every prioritized name must be a REGISTERED query — a phantom
    # here silently shrinks the driver gate (the curation skips
    # unknown names), which is exactly how r8 shipped a 47-slot
    # prefix while believing it was 50
    phantoms = sorted(pr - set(registry.all_queries()))
    assert phantoms == [], f"_PRIORITY names unregistered queries: {phantoms}"
    oracled = set(registry.all_oracles())
    never = {q for q in oracled if q not in registry.VALIDATED_ROUND}
    assert never <= pr or pr <= never, (
        f"validated queries occupy slots while never-validated wait: "
        f"waiting={sorted(never - pr)} "
        f"slot-holders={sorted(q for q in pr if q not in never)}"
    )
    # the ledger only names registered queries (no typos / stale keys)
    unknown = [q for q in registry.VALIDATED_ROUND if q not in registry.all_queries()]
    assert unknown == []


def test_default_cpus_follow_affinity_not_env(monkeypatch):
    """The default session is sized from the cores this process may
    run on; a SPARK_GRAFT_CPUS value no longer overrides it."""
    import importlib

    from end_to_end_data_engineering_pipeline_spark import session

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    try:
        importlib.reload(session)
        assert session.DEFAULT_CPUS == len(os.sched_getaffinity(0))
    finally:
        monkeypatch.undo()
        importlib.reload(session)
