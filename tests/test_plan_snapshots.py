"""PLANS.md freshness gate: regenerate the headline physical-plan
digests and diff against the committed artifact. A plan change without
a PLANS.md update fails here — which is the point: bench-drift
judgments lean on "the plan is unchanged", and this test makes that
claim mechanical instead of a human re-reading explain output.
(Passing also proves the digests are cross-session stable: the
committed file was generated by a different JVM/session.)"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, REPO)

from opensearch_dynamodb_etl_cdk_spark.plans import snapshot as SN


def test_plans_md_matches_current_plans():
    # a fresh process: the render pins its session to SN.SNAPSHOT_CPUS,
    # so the digests do not depend on this host's core count
    proc = subprocess.run(
        [sys.executable, "-m", "opensearch_dynamodb_etl_cdk_spark.plans.snapshot",
         "--check"],
        cwd=REPO, capture_output=True, text=True, timeout=1800,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr[-3000:]


def test_stale_queries_names_changed_blocks():
    head = "# header\n"
    a = head + "\n## q1\n- sha256: aa\n\n## q2\n- sha256: bb\n"
    b = head + "\n## q1\n- sha256: aa\n\n## q2\n- sha256: cc\n\n## q3\n"
    assert SN.stale_queries(a, a) == []
    assert SN.stale_queries(a, b) == ["q2", "q3"]


def test_normalizer_strips_run_varying_noise():
    a = ("(1) Scan parquet \nOutput [2]: [x#12L, y#345]\n"
         "Location: InMemoryFileIndex [file:/tmp/run1/t.parquet]\n"
         "Exchange hashpartitioning(x#12L, 32), [plan_id=77]\n")
    b = ("(1) Scan parquet \nOutput [2]: [x#9988L, y#1]\n"
         "Location: InMemoryFileIndex [file:/other/place/t.parquet]\n"
         "Exchange hashpartitioning(x#9988L, 32), [plan_id=5]\n")
    assert SN.normalize(a) == SN.normalize(b)
    # but a REAL plan difference survives normalization
    c = b.replace("hashpartitioning", "rangepartitioning")
    assert SN.normalize(b) != SN.normalize(c)


def test_census_counts_detail_headers_once():
    plan = (
        "AdaptiveSparkPlan (5)\n+- HashAggregate (4)\n"
        "   +- Exchange (3)\n      +- HashAggregate (2)\n"
        "         +- Scan parquet  (1)\n\n"
        "(1) Scan parquet \nPushedFilters: [IsNotNull(x)]\n\n"
        "(2) HashAggregate\n\n(3) Exchange\n\n(4) HashAggregate\n\n"
        "(5) AdaptiveSparkPlan\n"
    )
    c = SN.census(plan)
    assert c["exchanges"] == 1 and c["hash_aggregates"] == 2
    assert c["scans"] == 1 and c["pushed_filters"] == "yes"
