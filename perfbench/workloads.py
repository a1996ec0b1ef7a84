"""The benchmark's workloads: which registry queries each one times, and
how much each query counts.

The registry splits by module into two partitions that together hold
every `SparkEntry.queries` key exactly once (checked on every run):

- relational: graft.jobs.*, graft.sources.KvTable, ext.Sessions, ext.Layout
- curation:   ext.Corpus, Dedup, Similarity, TextOps, Stats, Pipeline,
              Multimodal

A pass over a whole partition takes 30 s (relational) to 130 s
(curation) here, too long to repeat within a run, so each workload runs
a stratified sample of its partition, and each sampled query carries a
weight: the number of partition queries it stands for. Summed with
these weights, a pass over the mix estimates a pass over the partition
(`mix_wall_s`, and every per-layer sum).

The strata and samples come from one traced pass over each whole
partition (`profile.py`, seed 1). Queries are stratified by what they
do before the consumer acts (jobs fired while the query is built) and by
the storage they leave held; within a stratum the queries are sorted
(by build-time jobs, held MB or wall, as noted) and sampled
systematically, the i-th of k taken at rank floor((i + 1/2) n / k).
Forced members (the reference MapReduce jobs, the flagship
`q_pipeline_run`) count for themselves only; `excluded` queries are in
no stratum. README.md records how close the weighted mix came to its
partition on that pass.
"""


def _stratum(n, sample):
    """Weights for `sample` drawn from a stratum of n queries."""
    return {q: n / len(sample) for q in sample}


WORKLOADS = {
    "relational": {
        "partition": "relational",
        "mix": {
            # the queries that fire jobs while they are built (6 of the
            # partition's 15 build-time jobs; q_kv_latest has the other 9)
            "q_daily_partition": 1, "q_heavy_hitters": 1,
            # the reference jobs: MaxTemperature, ReduceJoin, UserHotcar/Newcar
            "q_max_per_group": 1, "q_fixedwidth_parse": 1, "q_reduce_join": 1,
            "q_recommend": 1, "q_recommend_k60": 1,
            # the other 62: scans, joins, aggregates, windows; sorted by wall
            **_stratum(62, ["q_arity_filter", "q_event_window", "q_range_join",
                            "q_file_skipping", "q_ewma_daily", "q_incremental_distinct"]),
        },
        # graft.sources' only query: its LSM ledger writes cost ~4 s a
        # pass, as much as the rest of the mix, so the run budget leaves
        # it out; the mix estimates the partition without it
        "excluded": ["q_kv_latest"],
        "stream": None,
    },
    "curation": {
        "partition": "curation",
        "mix": {
            # >= 13 build-time jobs (eager checkpoints, driver collects):
            # the flagship, plus 1 of the other 13 sorted by build-time jobs
            "q_pipeline_run": 1,
            **_stratum(13, ["q_cc_profile"]),
            # < 13 build-time jobs and >= 0.1 MB held after consume;
            # sorted by held MB
            **_stratum(13, ["q_dedup_minhash"]),
            # 1-12 build-time jobs, nothing held; sorted by wall
            **_stratum(20, ["q_ann_ivf"]),
            # no build-time jobs, nothing held; sorted by wall
            **_stratum(84, ["q_media_decode", "q_feature_hash", "q_mixture_sample",
                            "q_mrl_recall"]),
        },
        "excluded": [],
        # PipelineStream: documents cut into `slices` slices by the seed;
        # the traced run ingests the first `batches` of them
        "stream": {"slices": 20, "batches": 5},
    },
}
