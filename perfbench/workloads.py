"""The benchmark's workloads: registry queries that each have a DuckDB
oracle, run in their listed order as one pass.

Every run starts a fresh JVM, so a run pays its set-up and cold pass
before the first warm pass; the query lists are kept short enough that
the benchmark's whole schedule of runs fits its time budget. Queries
whose warm time alone fills a pass (``kafka_cdc_stream_apply``,
``pipeline_streaming_curation``) or whose oracle does not finish in
time (``graph_kcore``, ``pipeline_release_*``, ``dedup_containment``)
are left out.

``PASS_S`` is each workload's warm pass time on a 4-core host. A run
makes ``round(--seconds / PASS_S)`` warm passes (at least one): the
count depends only on ``--seconds``, so a slower or faster host, or a
faster program, times the same passes and not more or fewer of them.
"""

WORKLOADS: dict[str, tuple[str, ...]] = {
    # the read-and-fold path: an availableNow streaming read of a
    # filekafka topic with Confluent Avro decode, and CDC batches folded into
    # versioned lake state and read back; much of its wall time is
    # driver-side Python between Spark jobs
    "kafka_io": (
        "kafka_stream_decode_agg",
        "cdc_state_time_travel",
    ),
    # an iterative graph loop and a one-shot batch plan, with no stream
    # and no log: PageRank (several small jobs per round) and a
    # Bloom-filtered semi-join
    "graph_batch": (
        "graph_pagerank",
        "join_bloom_filtered",
    ),
}

PASS_S: dict[str, float] = {
    "kafka_io": 7.5,
    "graph_batch": 2.5,
}
