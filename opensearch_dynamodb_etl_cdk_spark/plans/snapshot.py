"""Diffable physical-plan snapshots for the headline bench queries.

Drift judgments ("the plan is unchanged, the timing moved") kept
relying on a human re-reading ``explain`` output. This module makes
that mechanical: for every LAZY headline query it renders the
``formatted`` physical plan, NORMALIZES the run-varying noise
(expression ids, plan ids, absolute paths, size/statistics
annotations), and emits one digest block per query into ``PLANS.md`` —
a short operator census (exchanges, joins, aggregates, scans, pushed
filters) plus a sha256 of the normalized text.
``tests/test_plan_snapshots.py`` regenerates the digests and fails on
any uncommitted plan change, so a timing drift with a matching
PLANS.md is PROVABLY plan-neutral, and a plan change without a
PLANS.md update fails CI loudly.

Regenerate after an intentional plan change, or check the committed
file (exit status 1 and the stale query names when it differs):

    python -m opensearch_dynamodb_etl_cdk_spark.plans.snapshot [--check]

Both render at ``SNAPSHOT_CPUS`` whatever the host's core count: the
session's parallelism sets shuffle partition counts, and AQE's
join/coalesce choices follow them, so digests taken at another
parallelism differ while every operator census still matches.

Snapshots are taken at sf0.001 (plan SHAPE is scale-invariant here:
the catalog pins broadcast/bucket decisions by construction, and the
tiny fixture keeps regeneration fast). EAGER trainer entries are
excluded — their fn() executes work, so they have no single static
plan to freeze.
"""

from __future__ import annotations

import hashlib
import os
import re

SNAPSHOT_SF_DIR = "/root/testdata/sf0.001"
SNAPSHOT_CPUS = 32  # the local[N] parallelism PLANS.md is rendered at
PLANS_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "..", "PLANS.md"
)

_HEADER = """# PLANS.md — physical-plan snapshots (generated)

One block per LAZY headline bench query: an operator census and the
sha256 of the NORMALIZED `explain("formatted")` output (expression
ids, plan ids, paths, and size/statistics noise stripped). Regenerate
with `python -m opensearch_dynamodb_etl_cdk_spark.plans.snapshot`;
`tests/test_plan_snapshots.py` fails when this file is stale, so
every plan change lands as a reviewable diff here.
"""


def headline_queries() -> list[str]:
    import bench

    return list(bench.HEADLINE)


def formatted_plan(df) -> str:
    """The ``formatted`` explain text, captured (not printed)."""
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def normalize(plan: str) -> str:
    """Strip run-varying noise so the digest is stable across sessions:
    expression ids (#123), cached-plan ids, absolute input paths,
    Statistics/size annotations, and trailing whitespace."""
    s = plan
    s = re.sub(r"#\d+L?", "#N", s)
    # higher-order-function lambda variables are named from a
    # SESSION-GLOBAL counter (x_1, y_2, id_3, …): the suffix encodes
    # how many lambdas the session created before this query, not
    # anything about the plan — the single largest source of false
    # "plan drift" (x/y/z = the pyspark lambda arg names, id/acc =
    # aggregate()'s internal identity/accumulator lambdas)
    s = re.sub(r"\b(x|y|z|id|acc)_\d+#", r"\1_N#", s)
    s = re.sub(r"plan_id=\d+", "plan_id=N", s)
    # RDD ids (localCheckpoint scan nodes) count up session-globally,
    # and the RDD creation-site string flips between
    # NativeMethodAccessorImpl.java:0 and <unknown>:0 once the JIT
    # inlines the reflection frame — both are run history, not plan
    s = re.sub(r"RDD\[\d+\]", "RDD[N]", s)
    s = re.sub(r" at \S+:\d+", " at <site>", s)
    s = re.sub(r"\[id=#?N?\d*\]", "[id=N]", s)
    s = re.sub(r"(file:)?/[^\s,\]\)]*", "<path>", s)
    s = re.sub(r"Statistics\([^)]*\)", "Statistics(<s>)", s)
    s = re.sub(r"\b\d+(\.\d+)?\s*(B|KiB|MiB|GiB|bytes)\b", "<size>", s)
    s = re.sub(r"Location: \S+", "Location: <path>", s)
    s = "\n".join(line.rstrip() for line in s.splitlines())
    return s


def census(plan: str) -> dict[str, object]:
    """Operator counts from the formatted output's DETAIL headers
    (``(N) NodeName``) — each node appears exactly once there, unlike
    the tree section."""
    nodes = re.findall(r"^\(\d+\) ([A-Za-z][\w]*)", plan, re.MULTILINE)
    n = lambda name: sum(1 for x in nodes if x == name)
    return {
        "exchanges": n("Exchange"),
        "broadcast_joins": n("BroadcastHashJoin")
        + n("BroadcastNestedLoopJoin"),
        "sort_merge_joins": n("SortMergeJoin"),
        "hash_aggregates": n("HashAggregate")
        + n("ObjectHashAggregate") + n("SortAggregate"),
        "scans": n("Scan"),
        "pushed_filters": "yes" if re.search(
            r"PushedFilters: \[[^\]]", plan) else "no",
    }


def snapshot_blocks(spark, sf_dir: str = SNAPSHOT_SF_DIR) -> list[str]:
    from .catalog import CATALOG

    # Digests must reflect ONE canonical cache state regardless of what
    # the session ran before: (a) clear CacheManager so no earlier
    # caller's .persist()-ed frame gets spliced into a matching subtree
    # as InMemoryRelation, and (b) reset the catalog's own train-once
    # memos (_PQ_CACHE / _IVFPQ_CACHE persist on FIRST build only, so a
    # memo hit yields a plan without the InMemoryRelation the fresh
    # build has). With both reset, the loop below reproduces exactly
    # the fresh-session sequence `main()` committed.
    from . import catalog_dsl_tail as _tail

    spark.catalog.clearCache()
    _tail._PQ_CACHE.clear()
    _tail._IVFPQ_CACHE.clear()
    blocks = []
    for name in headline_queries():
        df = CATALOG[name].fn(spark, sf_dir)
        plan = formatted_plan(df)
        c = census(plan)
        digest = hashlib.sha256(
            normalize(plan).encode("utf-8")).hexdigest()[:16]
        stats = ", ".join(f"{k}={v}" for k, v in c.items())
        blocks.append(f"## {name}\n- {stats}\n- sha256: {digest}\n")
    return blocks


def render(spark, sf_dir: str = SNAPSHOT_SF_DIR) -> str:
    return _HEADER + "\n" + "\n".join(snapshot_blocks(spark, sf_dir))


def stale_queries(committed: str, current: str) -> list[str]:
    """Query names whose digest block differs between two renders
    (present in only one counts as differing)."""
    def blocks(text):
        out = {}
        for chunk in text.split("\n## ")[1:]:
            name, *rest = chunk.splitlines()
            out[name.strip()] = "\n".join(rest)
        return out

    a, b = blocks(committed), blocks(current)
    return sorted(set(a) ^ set(b) | {k for k in set(a) & set(b)
                                     if a[k] != b[k]})


def main(argv: list[str] | None = None) -> int:
    import argparse
    import sys

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--check", action="store_true",
                    help="compare with PLANS.md instead of writing it")
    args = ap.parse_args(argv)
    os.environ["SPARK_GRAFT_CPUS"] = str(SNAPSHOT_CPUS)
    sys.path.insert(0, os.path.dirname(os.path.abspath(PLANS_PATH)))
    from ..session import get_spark

    spark = get_spark("plan-snapshot")
    try:
        text = render(spark)
    finally:
        spark.stop()
    if args.check:
        with open(PLANS_PATH) as f:
            stale = stale_queries(f.read(), text)
        if stale:
            print(f"PLANS.md is stale for {stale} — if the plan change is "
                  "intentional, regenerate with `python -m "
                  "opensearch_dynamodb_etl_cdk_spark.plans.snapshot` and "
                  "commit the diff")
            return 1
        print("PLANS.md matches the current plans")
        return 0
    with open(PLANS_PATH, "w") as f:
        f.write(text)
    print(f"wrote {os.path.normpath(PLANS_PATH)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
