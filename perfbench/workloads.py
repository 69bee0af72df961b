"""Workload definitions shared by the load generator and the system
process. Standard library only: the load generator imports it too.

Both workloads run the same phases on a different corpus, so every
end-to-end metric is measured on each of them:

1. set-up, ``BUILDS`` times from unpersisted inputs: sign, band,
   persist, export two shard replicas, bind them behind the
   scatter-gather router;
2. a fixed-rate open-loop query phase in ``FIXED_PARTS`` parts (median
   latency over all), at a rate well below capacity, so latency is
   service time, not queueing.

The traced run (``--trace 1``) adds, for its per-layer metrics:

3. the fixed-rate phase again, half as long, traced (tracing overhead);
4. a closed-loop phase: ``nproc`` clients, each sending its next query
   when the last is answered (throughput at saturation);
5. ingest while serving: ``CYCLES`` append cycles under a low-rate
   query stream that also asks for the docs being appended (ingest
   rate, freshness).
"""

from __future__ import annotations

#: A request that has not completed this long after it was due counts
#: as failed (overdue), as does a refusal or a non-200 answer.
REQUEST_TIMEOUT_S = 2.0

#: Seconds of open-loop warm-up (untimed) before the fixed-rate phase.
WARMUP_S = 2.0

#: Throughput of the closed-loop phase is the median over windows of
#: this many seconds, after one window of warm-in.
WINDOW_S = 0.5

#: Threads (each with one connection) sending the open-loop phases.
SENDERS = 2

#: The fixed-rate phase runs as this many consecutive parts.
FIXED_PARTS = 5

#: Shard replicas behind the router (the reference's scatter-gather).
N_REPLICAS = 2

#: top-k of every query (the reference BASELINE's k).
K = 5

WORKLOADS = {
    # Few candidates per probe: transport (JSON, per-request fan-out,
    # router merge) dominates the request, the scoring kernel little.
    # Capacity is ~170 qps on a 4-core host. The corpus size barely
    # moves the query path; it is kept small so three builds fit a run.
    "sparse": {
        "n_docs": 2_500,
        "vocab": 5000,
        "clusters": 50,  # planted near-duplicate clusters ...
        "cluster_size": 5,  # ... of this many docs each
        "fixed_qps": 30.0,
        "stream_qps": 5.0,
        "pool": 2000,
    },
    # The reference BASELINE parameters (vocab 20, num_perm 128, b=32
    # r=4, k=5) on 8k docs instead of its 20k, so three builds fit a
    # run: every probe hits nearly every doc, so scoring in
    # ServingIndex.query dominates the request. Capacity is ~60 qps.
    "dense": {
        "n_docs": 8_000,
        "vocab": 20,
        "clusters": 0,
        "cluster_size": 0,
        "fixed_qps": 15.0,
        "stream_qps": 5.0,
        "pool": 300,
    },
}

#: Share of a document's words replaced to make a near-duplicate.
PERTURB = 0.15

#: Parquet files the corpus is written as (input splits of the build).
CORPUS_FILES = 4

#: Index builds per run; ``setup_s`` takes their median. The last
#: build serves.
BUILDS = 3

#: Ingest cycles per run, each appending a micro-batch of
#: ``BATCH_DOCS`` (near-real-time ingest, within ``lsh.SMALL_QUERY_FOLD``:
#: the dup-check's small-batch regime). The ingest metrics take the
#: median over cycles.
CYCLES = 2
BATCH_DOCS = 8


def spec(name: str, tiny: bool = False) -> dict:
    """Workload ``name``; ``tiny`` is the self-test's scale."""
    s = dict(WORKLOADS[name])
    if tiny:
        s.update(n_docs=600, pool=48, clusters=min(s["clusters"], 20))
    return s
