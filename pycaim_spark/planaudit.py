"""Physical-plan audit helpers shared by tools/gen_plans_md.py and
tests/test_plan_audit.py — single source for the exclusion/whitelist sets
and the plan-string metrics, so the PLANS.md generator, the committed
shuffle-count baseline (PLANS_BASELINE.json), and the pytest forbidden-node
gate cannot drift apart.

The audit is STATIC: plans are built lazily and explained, never executed
(the cold plan a cluster would compile). Queries that must RUN a side
effect inside ``fn()`` to produce their final frame (sinks, streaming
replays, iterative fits) are excluded and carry their plan story in their
tests instead.
"""

from __future__ import annotations

import re

#: Queries whose plans legitimately contain the flagged operator.
CARTESIAN_OK = {
    "join_cross",        # the cartesian operator itself
    "join_theta",        # BroadcastNestedLoop is the theta-join plan
    "sim_cosine_exact",  # broadcast query-set × corpus is the intended scan
    "dedup_embedding",   # all-pairs baseline, guarded: raises above
                         # PYCAIM_ALLPAIRS_MAX_ROWS rows instead of running
                         # O(n²) at corpus scale (test_llm_ops.py asserts)
    "ts_resample",       # 1-row bounds × spine explode
    "agg_stats",         # scalar subquery for percentile uses a 1-row BNLJ
}

ROW_PYTHON_OK = {
    "udf_python",        # the deliberately-row-at-a-time surface row
    "udtf_python",       # Python UDTF evaluation is row-based by contract
}

#: Queries whose fn() executes side effects (writes, stream replays,
#: iterative driver loops) — their final frame's plan is not the workload.
SKIP_EFFECTFUL = {
    "sink_parquet", "source_csv", "source_json", "sink_partitioned",
    "join_bucketed", "source_stream", "stream_watermark_agg",
    "stream_dedup_watermark", "stream_stateful", "stream_sink",
    "caim_fit", "caim_transform", "caim_mllib_stage",
}


#: Queries that EXECUTE Spark jobs inside fn() to build their final frame
#: (iterative connected-components / PageRank driver loops with eager
#: localCheckpoints). Their final frame's static plan is still meaningful
#: (the labels join), so the cheap pytest forbidden-node audit keeps them
#: at sf0.001 — but the sf0.1 baseline generator skips them: a "static"
#: sweep that runs a full CC on 5 M fixture pairs is neither static nor
#: cheap (it OOM'd the generator's driver).
EXECUTES_AT_BUILD = {
    "dedup_clusters",
    "dedup_clusters_star",
    "dedup_incremental_append",
    "dedup_stream_ingest",
    "dedup_incremental_clusters",
    "dedup_minhash_clusters",
    "graph_pagerank",
    "split_leakage_safe_neardup",
}


#: Queries that run Spark jobs every time their DataFrame is built, by
#: design — beyond EXECUTES_AT_BUILD, whose driver loops do too. Every
#: other auditable query must build with zero jobs once its session is
#: warm (tests/test_plan_audit.py): fixture reads come from the catalog's
#: handle registry, persisted layouts from their warm attach.
BUILD_JOBS_OK = {
    "join_dpp",               # writes the status-partitioned fact, then
                              # reads it back (partition discovery)
    "sim_ivf",                # train the ANN index per call from
    "sim_pq",                 # driver-side collects (sim_ivf_pq_stored
    "sim_ivf_pq",             # is the persisted, train-once form)
    "sim_lsh_approx",         # Spark ML LSH fit reads the vector size
    "source_csv_malformed",   # writes the CSV source the read is tested on
    "text_tfidf",             # collects the corpus document count
}


def is_effectful(name: str, tags: tuple[str, ...]) -> bool:
    """True when the query's plan should not be statically audited."""
    return name in SKIP_EFFECTFUL or bool(
        {"streaming", "sink"} & set(tags)
    )


def audit_plan(plan: str) -> dict:
    """Metrics from a ``formatted`` explain string.

    The formatted mode prints each node as "(N) NodeName" in the tree AND
    as a detail-section header — count DISTINCT node ids, not mentions.
    """
    return {
        "shuffle_exchanges": len(
            set(re.findall(r"\((\d+)\) Exchange\b", plan))
        ),
        "broadcast_exchanges": len(
            set(re.findall(r"\((\d+)\) BroadcastExchange\b", plan))
        ),
        "codegen_spans": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "pushed": sorted(
            {
                m.strip()[:120]
                for m in re.findall(r"PushedFilters: \[[^\]]*\]", plan)
                if "[]" not in m
            }
        ),
        "partition_filters": sorted(
            {
                m.strip()[:140]
                for m in re.findall(r"PartitionFilters: \[[^\]]*\]", plan)
                if "[]" not in m
            }
        ),
        "bad_nodes": [
            n
            for n in (
                "CartesianProduct",
                "BroadcastNestedLoopJoin",
                "BatchEvalPython",
            )
            if n in plan
        ],
    }


def build_jobs(spark, build) -> tuple[object, int]:
    """Run ``build()`` under a fresh Spark job group and return its result
    with the number of jobs it launched (its thread's jobs only). The
    listener bus is drained first, so a job that already finished is
    never missed."""
    import uuid

    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs launched while building a DataFrame")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def plan_string(df) -> str:
    """The formatted physical-plan explain string for a DataFrame."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
